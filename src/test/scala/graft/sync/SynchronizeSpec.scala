package graft.sync

import graft.GraftSpec
import graft.clean.Clean
import graft.sources.SampleData
import org.apache.spark.sql.functions._

/** Golden replication of the reference's end-to-end flow
  * (BASELINE.md "measured sync output: 364 rows × 19 cols"): the
  * default camera/motion/log generators started at one t0, cleaned,
  * then synchronized on the 33 ms grid. The tick count is pure
  * timestamp math (data-independent), so it replicates exactly even
  * though JVM and numpy random streams differ. */
class SynchronizeSpec extends GraftSpec {

  private val T0 = 1704067200000000L

  private def defaultSensors = {
    val cam = Clean.clean(SampleData.camera(spark, n = 500, startUs = T0), "camera")._1
    val mot = Clean.clean(SampleData.motion(spark, n = 600, startUs = T0 + 50000L), "motion")._1
    val log = Clean.clean(SampleData.log(spark, n = 100, startUs = T0), "log")._1
    (cam, mot, log)
  }

  test("default data synchronizes to the reference's 364 ticks x 19 columns") {
    val (cam, mot, log) = defaultSensors
    val (out, report) = Synchronize.synchronize(spark, cam, mot, Some(log))
    assert(out.count() === 364L)
    assert(out.columns.length === 19)
    assert(out.columns.head === "timestamp")
    assert(out.columns.count(_.startsWith("camera_")) === 5)
    assert(out.columns.count(_.startsWith("motion_")) === 6)
    assert(out.columns.count(_.startsWith("event_")) === 7)
    assert(report.contains("Created 364 synchronized time points at 30Hz"))
    assert(report.exists(_.startsWith("Overlap window: 2024-01-01 00:00:00.050000 to ")))
  }

  test("all three methods fill every tick (nearest/pad/backfill over cleaned data)") {
    val (cam, mot, _) = defaultSensors
    for (m <- Seq("nearest", "pad", "backfill")) {
      val (out, _) = Synchronize.synchronize(spark, cam, mot, None, method = m)
      // grid starts/ends inside both sensors' spans, so even pad and
      // backfill have a source row on each side of every tick
      assert(out.count() === 364L, s"method=$m")
    }
  }

  test("event one-hot bits are 0/1 and some events land within tolerance") {
    val (cam, mot, log) = defaultSensors
    val (out, _) = Synchronize.synchronize(spark, cam, mot, Some(log))
    val evCols = out.columns.filter(_.startsWith("event_"))
    val sums = out.agg(
      sum(evCols.map(col).reduce(_ + _)).as("total"),
      max(greatest(evCols.map(col): _*)).as("mx"),
      min(least(evCols.map(col): _*)).as("mn")).head()
    val total = sums.getLong(0)
    assert(total > 0 && total <= 100, s"event bits=$total")
    assert(sums.getInt(1) === 1)
    assert(sums.getInt(2) === 0)
  }

  test("withCounts report matches the reference's count-bearing wording") {
    val (cam, mot, log) = defaultSensors
    val (_, report) = Synchronize.synchronize(spark, cam, mot, Some(log),
      withCounts = true)
    assert(report.contains("Mapped 100 log events to synchronized timeline"))
    assert(report.contains("Final synchronized dataset: 364 samples"))
  }

  test("disjoint sensor spans fail loudly") {
    val (cam, mot, _) = defaultSensors
    val shifted = mot.withColumn("timestamp",
      timestamp_micros(unix_micros(col("timestamp")) + 1000000000000L))
    val e = intercept[IllegalArgumentException] {
      Synchronize.synchronize(spark, cam, shifted, None)
    }
    assert(e.getMessage.contains("overlap"))
  }

  /** Jobs started by `body`, counted on the listener bus. */
  private def jobsIn(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.GraftListenerDrain.drain(sc)
    sc.addSparkListener(l)
    try { body; org.apache.spark.GraftListenerDrain.drain(sc) }
    finally sc.removeSparkListener(l)
    jobs.get()
  }

  private def withAqe[T](on: Boolean)(body: => T): T = {
    val was = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", on.toString)
    try body finally spark.conf.set("spark.sql.adaptive.enabled", was)
  }

  /** A small recording staged as header CSV and read back through
    * `CsvIngest`, like the reference's uploads: unlike the generators'
    * frames, its plans carry no sort of their own. */
  private lazy val recordingDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-sync-rec").toFile.getAbsolutePath
    def write(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      df.write.option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS").csv(s"$dir/$name")
    write(SampleData.camera(spark, n = 500, startUs = T0, partitions = 2), "camera")
    write(SampleData.motion(spark, n = 600, startUs = T0 + 50000L, partitions = 2), "motion")
    write(SampleData.log(spark, n = 100, startUs = T0, partitions = 2), "log")
    dir
  }

  /** The reference job over the staged recording: read, clean ×3, sync. */
  private def cleanedRecording = {
    import graft.model.Schemas
    import graft.sources.CsvIngest
    def cleaned(kind: String, schema: org.apache.spark.sql.types.StructType) =
      Clean.clean(CsvIngest.read(spark, s"$recordingDir/$kind", schema), kind)._1
    (cleaned("camera", Schemas.camera), cleaned("motion", Schemas.motion),
      cleaned("log", Schemas.log))
  }

  test("synchronize strips Clean's sorts: no range exchange in the synchronized plan") {
    val (cam, mot, log) = cleanedRecording
    withAqe(on = false) {
      // F5 itself is intact: the cleaned frame alone still range-sorts
      assert(cam.queryExecution.executedPlan.toString.contains("rangepartitioning"))
      val plan = Synchronize.synchronize(spark, cam, mot, Some(log))._1
        .queryExecution.executedPlan.toString
      assert(!plan.contains("rangepartitioning"),
        s"a cleaned input's sort survived into the synchronized plan:\n$plan")
    }
  }

  test("under AQE the sensor alignment runs once: the carry side reuses its exchange") {
    import org.apache.spark.sql.execution.UnionExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val (cam, mot, log) = cleanedRecording
    withAqe(on = true) {
      val (out, _) = Synchronize.synchronize(spark, cam, mot, Some(log))
      out.collect()
      // the final adaptive plan: query stages are walked, a reused
      // exchange is a leaf — so a second alignment is a second Union
      val plan = out.queryExecution.executedPlan
      val walk = new AdaptiveSparkPlanHelper {}
      val unions = walk.collect(plan) { case u: UnionExec => u }
      assert(unions.size === 1,
        s"the camera ∪ motion alignment aggregate ran ${unions.size} times:\n$plan")
      assert(walk.collect(plan) {
        case r: ReusedExchangeExec if walk.find(r.child)(_.isInstanceOf[UnionExec]).nonEmpty => r
      }.nonEmpty, s"the carry digest must reuse the alignment's exchange:\n$plan")
    }
  }

  test("job ceiling: clean x3 + synchronize + write of a small recording") {
    val jobs = withAqe(on = true)(jobsIn {
      val (cam, mot, log) = cleanedRecording
      Synchronize.synchronize(spark, cam, mot, Some(log))._1
        .write.mode("overwrite").format("noop").save()
    })
    // measured 22: clean 6 (one aggregate each), sync and the write 16
    assert(jobs <= 22, s"the sensor pipeline ran $jobs Spark jobs")
  }
}
