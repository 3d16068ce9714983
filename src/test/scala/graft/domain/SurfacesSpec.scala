package graft.domain

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSuite

/** JVM-global counters the fetch handlers mutate: task closures are
  * serialized even in local mode, so captured instances would be copies —
  * object fields resolve to the one live singleton after deserialization.
  */
object FetchProbe {
  val inFlight = new AtomicInteger(0)
  val maxInFlight = new AtomicInteger(0)
  val attemptsByUrl = new ConcurrentHashMap[String, Integer]()
  def reset(): Unit = { inFlight.set(0); maxInFlight.set(0); attemptsByUrl.clear() }
}

class AssetsSpec extends SparkSuite {
  import spark.implicits._

  test("JSON url mapper loads {url: {Alpha-3}} and drives a map-side lookup") {
    val dir = tmpDir("assets")
    val p = new java.io.File(dir, "mapper.json")
    java.nio.file.Files.write(p.toPath,
      """{"http://a/": {"Alpha-3": "UKR"}, "http://b/": {"Alpha-3": "RUS"}}""".getBytes("UTF-8"))
    val m = Assets.loadUrlMapper(spark, p.toString)
    assert(m === Map("http://a/" -> "UKR", "http://b/" -> "RUS"))
    val got = Seq("http://a/", "http://c/").toDF("u")
      .select(Assets.mapperLookup(m, col("u"))).as[Option[String]].collect().toSeq
    assert(got === Seq(Some("UKR"), None))
  }

  test("CSV dim loads header file under an explicit schema (no inference)") {
    val dir = tmpDir("assetscsv")
    val p = new java.io.File(dir, "corr.csv")
    java.nio.file.Files.write(p.toPath,
      "model,old_category,new_category\nBayraktar,Aircraft,UAVs\n".getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("model", StringType),
      StructField("old_category", StringType), StructField("new_category", StringType)))
    val df = Assets.loadCsvDim(spark, p.toString, schema)
    assert(df.schema === schema)
    assert(df.as[(String, String, String)].collect().toSeq ===
      Seq(("Bayraktar", "Aircraft", "UAVs")))
  }
}

class PublishSpec extends SparkSuite {
  import spark.implicits._
  import graft.meta.Schemas

  test("JSON export: tag filter applies, rows round-trip under explicit schema") {
    val dir = tmpDir("publish")
    val schema = StructType(Seq(
      Schemas.field("id", LongType, Seq(Schemas.Tag.Dimension)),
      Schemas.field("name", StringType, Seq(Schemas.Tag.Attribute)),
      Schemas.field("secret", StringType, Seq(Schemas.Tag.Debug))))
    val df = Seq((1L, "a", "x"), (2L, "b", "y")).toDF("id", "name", "secret")
    Publish.stageDatasetAsJson(df, schema, s"$dir/out", exclude = Set(Schemas.Tag.Debug))
    val back = Publish.readStaged(spark, s"$dir/out",
      StructType(Seq(StructField("id", LongType), StructField("name", StringType),
        StructField("secret", StringType))))
    assert(back.select("id", "name").as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b")))
    // the debug-tagged column was never written
    assert(back.filter(col("secret").isNotNull).count() === 0)
  }
}

class MediaFetchSpec extends SparkSuite {
  import spark.implicits._

  private def inv(rows: (String, String, String, Option[String])*) =
    rows.toSeq.toDF("url_hash", "url", "evidence_source", "media_key")
      .withColumn("media_key", col("media_key"))
      .withColumn("file_type", lit(null).cast("string"))

  test("registry dispatch: cached and no-handler rows pass through, handled rows fetch") {
    val df = inv(
      ("h1", "http://x/a.jpg", "postimg", None),
      ("h2", "http://x/b", "twitter", None),
      ("h3", "http://x/c.png", "postimg", Some("media/postimg/h3.png")))
    val got = MediaFetch.fetchAll(df, Map("postimg" -> MediaFetch.stubHandler()))
      .select("url_hash", "media_key", "file_type", "status", "attempts")
      .as[(String, Option[String], Option[String], String, Int)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("h1") === (("h1", Some("media/postimg/h1.jpg"), Some(".jpg"), "fetched", 1)))
    assert(got("h2") === (("h2", None, None, "no_handler", 0)))
    assert(got("h3")._2 === Some("media/postimg/h3.png") && got("h3")._4 === "cached")
  }

  test("per-record retry then success; persistent failure skips, never throws") {
    FetchProbe.reset()
    val flakyOnce: MediaFetch.Handler = { t =>
      val n = FetchProbe.attemptsByUrl.merge(t.url, 1, (a, b) => a + b)
      if (t.url.contains("flaky") && n < 2) throw new RuntimeException("transient")
      if (t.url.contains("dead")) throw new RuntimeException("permanent")
      (s"media/${t.evidence_source}/${t.url_hash}.bin", ".bin")
    }
    val df = inv(
      ("h1", "http://flaky/1", "s", None),
      ("h2", "http://dead/2", "s", None),
      ("h3", "http://ok/3", "s", None))
    val got = MediaFetch.fetchAll(df, Map("s" -> flakyOnce), maxAttempts = 3)
      .select("url_hash", "status", "attempts").as[(String, String, Int)]
      .collect().map(r => r._1 -> r).toMap
    assert(got("h1") === (("h1", "fetched", 2)))
    assert(got("h2") === (("h2", "failed", 3)))
    assert(got("h3") === (("h3", "fetched", 1)))
  }

  test("downloads run concurrently but never exceed the concurrency bound") {
    FetchProbe.reset()
    val gauged: MediaFetch.Handler = { t =>
      val cur = FetchProbe.inFlight.incrementAndGet()
      FetchProbe.maxInFlight.accumulateAndGet(cur, math.max)
      Thread.sleep(15)
      FetchProbe.inFlight.decrementAndGet()
      (s"media/${t.evidence_source}/${t.url_hash}.bin", ".bin")
    }
    val df = inv((0 until 48).map(i => (s"h$i", s"http://x/$i", "s", None: Option[String])): _*)
      .coalesce(1) // one partition → the pool, not partition count, is the bound
    val out = MediaFetch.fetchAll(df, Map("s" -> gauged), concurrency = 4)
    assert(out.filter(col("status") === "fetched").count() === 48)
    assert(FetchProbe.maxInFlight.get() <= 4,
      s"bound violated: ${FetchProbe.maxInFlight.get()} > 4")
    assert(FetchProbe.maxInFlight.get() >= 2,
      s"never ran concurrently: ${FetchProbe.maxInFlight.get()}")
  }

  test("a handler that BLOCKS (not throws) is timed out per attempt and skipped") {
    FetchProbe.reset()
    val sticky: MediaFetch.Handler = { t =>
      if (t.url.contains("wedge")) {
        FetchProbe.attemptsByUrl.merge(t.url, 1, (a, b) => a + b)
        Thread.sleep(120000) // a hung socket: never throws, never returns
      }
      (s"media/${t.evidence_source}/${t.url_hash}.bin", ".bin")
    }
    val df = inv(
      ("h1", "http://wedge/1", "s", None),
      ("h2", "http://ok/2", "s", None))
    val t0 = System.nanoTime()
    val got = MediaFetch.fetchAll(df, Map("s" -> sticky),
      maxAttempts = 2, attemptTimeoutMs = 300L)
      .select("url_hash", "status", "attempts").as[(String, String, Int)]
      .collect().map(r => r._1 -> r).toMap
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    assert(got("h1") === (("h1", "failed", 2))) // timed out twice, then skipped
    assert(got("h2")._2 === "fetched") // the wedge never stalls healthy rows
    assert(elapsedMs < 30000, s"wedged handler stalled the task: ${elapsedMs}ms")
    assert(FetchProbe.attemptsByUrl.getOrDefault("http://wedge/1", 0) === 2,
      s"expected 2 timed-out attempts, saw ${FetchProbe.attemptsByUrl.get("http://wedge/1")}")
  }

  test("a huge pending partition streams through the sliding window (no per-row future buildup)") {
    FetchProbe.reset()
    val gauged: MediaFetch.Handler = { t =>
      val cur = FetchProbe.inFlight.incrementAndGet()
      FetchProbe.maxInFlight.accumulateAndGet(cur, math.max)
      FetchProbe.inFlight.decrementAndGet()
      (s"media/${t.evidence_source}/${t.url_hash}.bin", ".bin")
    }
    val n = 20000
    val df = inv((0 until n).map(i =>
      (s"h$i", s"http://x/$i", "s", None: Option[String])): _*).coalesce(1)
    val out = MediaFetch.fetchAll(df, Map("s" -> gauged), concurrency = 8)
    assert(out.filter(col("status") === "fetched").count() === n)
    assert(FetchProbe.maxInFlight.get() <= 8)
  }
}
