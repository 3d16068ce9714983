package org.apache.spark.sql.graftbridge

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.internal.io.FileNameSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{FileFormatWriter, SQLHadoopMapReduceCommitProtocol}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/** Bridge to `FileFormatWriter.write` with an explicit commit protocol, the
  * shape of Delta Lake's `TransactionalWrite`: a parquet write whose tasks
  * describe the files they just wrote and return the descriptions with their
  * task commit messages, so the driver has per-file stats at job commit with
  * no listing of the output dir and no second read of the footers.
  *
  * The committer is passed per write and never through
  * `spark.sql.sources.commitProtocolClass`, so concurrent writes in the same
  * session (and a committer the user configured) are not affected. The write
  * runs as its own SQL execution of the frame's `QueryExecution`, so
  * `Dataset.observe` metrics and query-execution listeners fire as for
  * `df.write`.
  */
object LakeWrite {

  /** Write `df` as parquet under `dir` (which must not exist yet), one
    * sub-directory per value of the `partitionBy` columns, and return
    * `describe(conf, written, committed)` of every file the job committed, in
    * committed-path order. `describe` runs in the write task on the closed
    * file at its task-attempt path `written`; `committed` is the qualified
    * path the file has once the job commits. `options` are the parquet write
    * options; like `df.write.option`, they also reach the Hadoop conf.
    */
  def parquet[T](df: DataFrame, dir: String, partitionBy: Seq[String],
                 options: Map[String, String])(
                 describe: (Configuration, Path, String) => Option[T]): Seq[T] = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val session = ds.sparkSession
    val hadoopConf = session.sessionState.newHadoopConfWithOptions(options)
    val out = new Path(dir)
    val outDir = out.getFileSystem(hadoopConf).makeQualified(out).toString
    val committer = new DescribingCommitProtocol(
      java.util.UUID.randomUUID().toString, outDir, describe)
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("lakeWrite")) {
      val plan = qe.executedPlan
      FileFormatWriter.write(
        sparkSession = session,
        plan = plan,
        fileFormat = new ParquetFileFormat(),
        committer = committer,
        outputSpec = FileFormatWriter.OutputSpec(outDir, Map.empty, plan.output),
        hadoopConf = hadoopConf,
        partitionColumns = partitionBy.map(n => plan.output.find(_.name == n).getOrElse(
          throw new IllegalArgumentException(s"no column $n to partition by"))),
        bucketSpec = None,
        statsTrackers = Nil,
        options = options)
    }
    committer.described.sortBy(_._1).map(_._2)
  }
}

/** The default SQL commit protocol, plus: each task runs `describe` on the
  * files it wrote before it commits them and returns the results with its
  * commit message; the driver gathers them at job commit.
  */
private class DescribingCommitProtocol[T](
    jobId: String, outDir: String, describe: (Configuration, Path, String) => Option[T])
    extends SQLHadoopMapReduceCommitProtocol(jobId, outDir) {

  /** Task side: (path as written, path once committed) of each file. */
  @transient private var files: List[(String, String)] = Nil

  /** Driver side: (committed path, description), set at job commit. */
  @transient var described: Seq[(String, T)] = Nil

  override def setupTask(ctx: TaskAttemptContext): Unit = {
    super.setupTask(ctx)
    files = Nil
  }

  override def newTaskTempFile(
      ctx: TaskAttemptContext, dir: Option[String], spec: FileNameSpec): String = {
    val written = super.newTaskTempFile(ctx, dir, spec)
    val name = new Path(written).getName
    val committed = dir.fold(new Path(outDir, name))(d => new Path(new Path(outDir, d), name))
    files ::= ((written, committed.toString))
    written
  }

  override def commitTask(ctx: TaskAttemptContext): TaskCommitMessage = {
    val conf = ctx.getConfiguration
    val mine = files.flatMap { case (w, c) => describe(conf, new Path(w), c).map(c -> _) }
    new TaskCommitMessage((super.commitTask(ctx).obj, mine))
  }

  override def commitJob(job: JobContext, commits: Seq[TaskCommitMessage]): Unit = {
    val parts = commits.map(_.obj.asInstanceOf[(Any, Seq[(String, T)])])
    super.commitJob(job, parts.map(p => new TaskCommitMessage(p._1)))
    described = parts.flatMap(_._2)
  }
}
