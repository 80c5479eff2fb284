package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft.{Catalog, SparkEntry}
import Harness.{failure, secs}

/** Catalog workload in one JVM, one client, queries back to back:
  *
  *  1. set-up, `setup-reps` times: a fresh SparkContext, then every frame of
  *     [[Catalog.sharedFrames]] persisted and materialized (the runner
  *     policy of Verify and Bench); all but the last set-up are torn down;
  *  2. the first pass over `queries` (in the given order) in that session,
  *     a one-shot job: each result is written as parquet to `check-dir`,
  *     with the oracle SQL beside it, as Verify does, for the output gate;
  *  3. one warm-up pass, still filling JIT and caches, reported apart;
  *  4. steady passes until `seconds` have elapsed since the first pass began
  *     and at least [[MinSteady]] steady passes ran.
  *
  * Each query is timed as three calls: build (`SparkEntry.queries(name)`),
  * plan (`queryExecution.executedPlan`) and exec (the write in the first
  * pass, Bench's `toRdd.count()` in steady passes). With `trace 1` the
  * first pass and every other steady pass are traced (spans, Catalyst
  * phases, cached scans, listener counters) and the rest run untraced, so
  * the two kinds of pass give the tracing overhead.
  * A failing query is recorded with its error and pass number, and the run
  * goes on. The session is left running: [[Harness]] halts the JVM once the
  * result is written.
  */
object CatalogRun {
  /** The command queries take 0.1-0.4 s and vary by ~10 % from pass to
    * pass; fewer than four steady passes leave their medians too noisy
    * to hold a 25 % bound from run to run. */
  val MinSteady = 4

  def apply(o: Map[String, String]): Map[String, Any] = {
    val dir = o("dir")
    val names = o("queries").split(",").toSeq
    val cpus = o("cpus")
    val trace = o("trace") == "1"
    val failures = Seq.newBuilder[Map[String, Any]]
    val queries = SparkEntry.queries

    // 1. set-up
    var spark: SparkSession = null
    var shared = Seq.empty[DataFrame]
    val setups = (0 until o("setup-reps").toInt).map { _ =>
      if (spark != null) {
        shared.foreach(_.unpersist(blocking = true))
        spark.stop()
      }
      val t0 = System.nanoTime()
      spark = Harness.session(cpus)
      val t1 = System.nanoTime()
      shared = Catalog.sharedFrames(spark, dir)
      val rows = shared.map(_.persist(StorageLevel.MEMORY_AND_DISK).count())
      Map("setup_s" -> secs(t0), "session_s" -> (t1 - t0) / 1e9, "persist_s" -> secs(t1),
        "txn_rows" -> rows.head)
    }
    val sc = spark.sparkContext
    def cachedMb(disk: Boolean): Double = sc.getRDDStorageInfo.map(i =>
      if (disk) i.diskSize else i.memSize + i.diskSize).sum / 1e6
    val cacheMb = cachedMb(disk = false)
    val counters = new ExecCounters
    sc.addSparkListener(counters)
    val tracer = new Tracer("catalog", trace)

    // 2-4. measured passes
    val checkDir = o("check-dir")
    var passNo = 0
    def pass(kind: String, traced: Boolean): Map[String, Any] = {
      tracer.enabled = traced
      val before = if (traced) counters.snapshot(sc) else Map.empty[String, Double]
      val t0 = System.nanoTime()
      val ops = names.flatMap { name =>
        val q0 = System.nanoTime()
        try {
          val df = tracer(s"build:$name")(queries(name)(spark, dir))
          val b = secs(q0)
          tracer(s"plan:$name")(df.queryExecution.executedPlan)
          val p = secs(q0) - b
          tracer(s"exec:$name") {
            if (kind == "first") df.write.mode("overwrite").parquet(s"$checkDir/$name")
            else df.queryExecution.toRdd.count()
          }
          val total = secs(q0)
          val facts = if (traced) PlanFacts(df) else Map.empty[String, Double]
          Some(Map("q" -> name, "s" -> total, "build_s" -> b, "plan_s" -> p,
            "exec_s" -> (total - b - p)) ++ facts)
        } catch { case e: Throwable =>
          failures += failure(name, kind, e) + ("pass" -> passNo)
          None
        }
      }
      val wall = secs(t0)
      passNo += 1
      val layer = if (traced) ExecCounters.delta(before, counters.snapshot(sc))
        else Map.empty[String, Double]
      Map("kind" -> kind, "traced" -> traced, "wall_s" -> wall, "ops" -> ops,
        "counters" -> layer)
    }
    val m0 = System.nanoTime()
    val first = pass("first", trace)
    val warmup = pass("warmup", traced = false)
    val steady = Vector.newBuilder[Map[String, Any]]
    var i = 0
    while (i < MinSteady || secs(m0) < o("seconds").toDouble) {
      steady += pass("steady", trace && i % 2 == 0)
      i += 1
    }
    val diskMb = cachedMb(disk = true)

    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$checkDir/oracle_sql.json"),
      Json(oracle).getBytes(java.nio.charset.StandardCharsets.UTF_8))

    Map("setups" -> setups, "cache_mb" -> cacheMb, "cache_disk_mb" -> diskMb,
      "passes" -> (Seq(first, warmup) ++ steady.result()),
      "failures" -> failures.result(), "spans" -> tracer.json)
  }
}
