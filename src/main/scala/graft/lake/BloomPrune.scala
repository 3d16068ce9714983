package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.io.api.Binary

/** Planning-time FILE pruning via parquet-native bloom filters.
  *
  * Range stats cannot prune equality predicates on high-cardinality columns:
  * a uniformly distributed value (a hash key, a commit id) spans nearly the
  * whole domain in every file, so every file's [min, max] contains every
  * probe. The blooms the writer embedded ([[LakeTable]]'s `bloomColumns`)
  * answer the point question directly: probe each candidate file's filters
  * for the predicate's literal(s) and drop files where EVERY row group says
  * "definitely absent" — a parquet-footer read per candidate, no data pages.
  *
  * Scale shape: the probe runs AFTER manifest bounds pruning, only over
  * files that ADVERTISE a bloom for a probed column (`DataFileEntry
  * .bloomCols`), and distributes across the cluster above a driver-side
  * threshold — at the 100 TB design point a point lookup probes thousands of
  * small footers in one short stage instead of scanning data. Fail-open
  * everywhere: missing bloom, missing column, unexpected physical type, or a
  * read error keeps the file (the row filter finishes the job); a drop
  * happens only on a definite all-row-group negative — the same contract as
  * stats pruning, so results are identical to the unpruned scan.
  */
private[graft] object BloomPrune {

  /** Files of `candidates` that may hold a row matching `eq` (equality
    * candidate sets from [[KeyPredicates.extractEqualities]]).
    */
  def prune(spark: org.apache.spark.sql.SparkSession,
            candidates: Seq[DataFileEntry],
            eqs: KeyPredicates.Equalities,
            distributeThreshold: Int = 64): Seq[DataFileEntry] = {
    if (eqs.isEmpty) return candidates
    val probed = eqs.strings.keySet ++ eqs.longs.keySet
    val probeable = candidates.filter(_.bloomCols.exists(probed.contains))
    if (probeable.isEmpty) return candidates
    val conf = spark.sparkContext.hadoopConfiguration
    val survivors: Set[String] =
      if (probeable.size <= distributeThreshold)
        probeable.filter(f => mightMatchFile(conf, f.path, f.bloomCols, eqs))
          .map(_.path).toSet
      else {
        val serConf = new org.apache.spark.SerializableWritable(conf)
        val slices = math.min(probeable.size, spark.sparkContext.defaultParallelism * 2)
        spark.sparkContext
          .parallelize(probeable.map(f => (f.path, f.bloomCols)), slices)
          .filter { case (p, cols) => mightMatchFile(serConf.value, p, cols, eqs) }
          .map(_._1).collect().toSet
      }
    candidates.filter(f =>
      !f.bloomCols.exists(probed.contains) || survivors.contains(f.path))
  }

  /** True unless every probed-and-bloomed column is definitely absent from
    * every row group of the file. Per column: any row group whose bloom is
    * missing fails open; present blooms are probed with the type-correct
    * hash (parquet blooms hash the PHYSICAL value — Binary for strings,
    * long for INT64, int for INT32; a long literal outside int range can
    * never equal an INT32 value, a definite negative).
    */
  private def mightMatchFile(conf: Configuration, path: String,
                             bloomCols: Seq[String],
                             eqs: KeyPredicates.Equalities): Boolean = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val probedHere = bloomCols.filter(c =>
      eqs.strings.contains(c) || eqs.longs.contains(c))
    if (probedHere.isEmpty) return true
    try {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        probedHere.forall { c =>
          blocks.exists { b =>
            b.getColumns.asScala.find(_.getPath.toDotString == c) match {
              case None => true // column absent from this file: fail open
              case Some(cc) if cc.getBloomFilterOffset < 0 => true
              case Some(cc) =>
                val bf = reader.getBloomFilterDataReader(b).readBloomFilter(cc)
                if (bf == null) true
                else cc.getPrimitiveType.getPrimitiveTypeName match {
                  // a probe set of the WRONG type for the physical column
                  // (schema drift) must fail open, not read as "no value
                  // matches" — hence fold(true)
                  case BINARY =>
                    eqs.strings.get(c).fold(true)(_.exists(v =>
                      bf.findHash(bf.hash(Binary.fromString(v)))))
                  case INT64 =>
                    eqs.longs.get(c).fold(true)(_.exists(v =>
                      bf.findHash(bf.hash(v))))
                  case INT32 =>
                    eqs.longs.get(c).fold(true)(_.exists(v =>
                      v >= Int.MinValue && v <= Int.MaxValue &&
                        bf.findHash(bf.hash(v.toInt))))
                  case _ => true // unexpected physical type: fail open
                }
            }
          }
        }
      } finally reader.close()
    } catch {
      case scala.util.control.NonFatal(_) => true // unreadable footer: fail open
    }
  }
}
