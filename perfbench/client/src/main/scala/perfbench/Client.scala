package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.core.GraftSession
import graft.etl.StockEtl
import graft.queries.LlmText
import graft.tools.DailyRunner

/** Runs one benchmark workload against the compiled engine, through its
  * public entry points only, with one client in a closed loop, and
  * writes every measurement to a JSON result file. `perfbench/run.py`
  * launches it, checks the outputs and prints the metrics.
  *
  * Arguments are `key=value` pairs:
  *   workload, trace (0|1), seed, cores, spawn_ms (epoch ms at which the
  *   JVM was launched), work (scratch directory), out (result file),
  *   units (units to time), sf (fixture directory), queries (memo
  *   consumers, comma list, in run order), check (registry queries whose
  *   results are dumped for the oracle compare), pool (daily_etl day
  *   files), backfill (files in a backfill), increments (day files landed
  *   one by one after it) and clean_check (day files whose clean output
  *   is dumped for checking).
  *
  * A workload is a run of identical units: a daily_etl unit is a backfill,
  * its increments and a double-fire on a fresh table; an llm_staging unit
  * is a staging cycle. Unit 0 is the warm-up: it pays first-use class
  * loading, JIT and code generation, and counts as set-up, not in the
  * units' medians. An untraced invocation then times `units` units. A traced
  * invocation times about twice as many, with the listeners and spans off
  * and on in ABBA order (which kind comes first is set by the seed), so
  * the difference of the two kinds is the tracing overhead.
  */
object Client {
  type Query = (SparkSession, String) => DataFrame

  private lazy val registry: Map[String, Query] = SparkEntry.queries

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = opt("workload")
    val traced = opt("trace") == "1"
    val units = opt("units").toInt
    val work = Paths.get(opt("work"))
    val sf = opt.getOrElse("sf", "")
    val pool = opt.get("pool").map(Paths.get(_))

    // Set-up: JVM launch to a ready session, plus the warm-up unit below.
    val spark = GraftSession.get(opt("cores"))
    val sessionS = System.currentTimeMillis() / 1e3 - opt("spawn_ms").toLong / 1e3

    val timed =
      if (!traced) Seq.fill(units)(false)
      else {
        // ABBA order, so a warm-up trend weighs on both kinds alike.
        val first = opt("seed").toLong % 2 != 0
        Seq.tabulate(4 * ((units + 1) / 2))(i => (i % 4 == 0 || i % 4 == 3) == first)
      }
    val layers = new Layers
    val tracers = Map(true -> new Tracer(true), false -> new Tracer(false))
    val unitResults = (false +: timed).zipWithIndex.map { case (tr, i) =>
      if (tr) layers.register(spark)
      val c = new Ctx(spark, tr, tracers(tr), layers, sf)
      val dir = work.resolve(s"unit$i")
      val body = c.tracer(s"unit:$workload") {
        workload match {
          case "daily_etl" => dailyEtl(c, pool.get, dir, opt("backfill").toInt,
            opt("increments").toInt)
          case "llm_staging" =>
            llmStaging(c, opt("queries").split(',').toSeq.filter(_.nonEmpty))
        }
      }
      if (tr) { ListenerDrain(spark.sparkContext); layers.unregister(spark) }
      body ++ Map("warmup" -> (i == 0), "traced" -> tr)
    }
    val warmupS = unitResults.head("wall_s").asInstanceOf[Double]
    val peakRssMb = peakRss()

    // Outputs for the correctness check, outside every timed region.
    val tCheck = System.nanoTime()
    val checkDir = work.resolve("check")
    workload match {
      case "daily_etl" =>
        opt.get("clean_check").toSeq.flatMap(_.split(',')).foreach { f =>
          StockEtl.clean(StockEtl.readRawCsv(spark, pool.get.resolve(f).toString))
            .coalesce(1).write.mode("overwrite").parquet(checkDir.resolve(f).toString)
        }
        spark.stop()
      case _ =>
        // Verify's name filter dumps every matching query's result and
        // the oracle SQL for the DuckDB compare, then stops the session.
        graft.Verify.main(Array(sf, checkDir.toString, opt("check")))
    }

    val result = Map("workload" -> workload,
      "setup_s" -> (sessionS + warmupS), "session_s" -> sessionS, "warmup_s" -> warmupS,
      "peak_rss_mb" -> peakRssMb, "check_dir" -> checkDir.toString,
      "check_s" -> secs(tCheck), "units" -> unitResults,
      "layers" -> (if (traced) layerMap(layers) else Map.empty),
      "spans" -> tracers(true).all)
    Files.writeString(Paths.get(opt("out")),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(result))
  }

  /** What every workload needs to run and time one operation. */
  final class Ctx(val spark: SparkSession, val tr: Boolean, val tracer: Tracer,
      val layers: Layers, val sf: String) {
    def drain(): Unit = if (tr) ListenerDrain(spark.sparkContext)

    /** One registry query: build (the registry call, which includes its
      * eager checkpoints), then plan and execute through the noop sink.
      * Plan time is Catalyst's tracked phases of the write. */
    def query(kind: String, name: String): Map[String, Any] =
      tracer(s"$kind:$name") {
        val s0 = stealS()
        val t0 = System.nanoTime()
        try {
          val df = tracer("build")(registry(name)(spark, sf))
          val t1 = System.nanoTime()
          drain()
          val plan0 = layers.planMs
          noop(df)
          val t2 = System.nanoTime()
          drain()
          val planNs = (layers.planMs - plan0) * 1000000L
          tracer.child("plan", t1, t1 + planNs)
          tracer.child("execute", t1 + planNs, t2)
          Map("kind" -> kind, "name" -> name, "ok" -> true,
            "wall_s" -> (t2 - t0) / 1e9, "build_s" -> (t1 - t0) / 1e9,
            "steal_s" -> (stealS() - s0))
        } catch {
          case e: Throwable =>
            Map("kind" -> kind, "name" -> name, "ok" -> false,
              "wall_s" -> secs(t0), "error" -> String.valueOf(e.getMessage).take(300))
        }
      }
  }

  private def sortedCsv(dir: Path): Seq[Path] =
    Files.list(dir).iterator().asScala.filter(_.toString.endsWith(".csv")).toSeq
      .sortBy(_.getFileName.toString)

  /** One daily_etl unit on a fresh table: a backfill `runOnce` over the
    * first `backfill` day files, then the next `increments` day files
    * landed one at a time, each followed by a `runOnce`, then a
    * double-fire with no new file. Traced, the clean alone is then timed
    * into the noop sink, apart from the write and outside the unit's
    * wall time. */
  def dailyEtl(c: Ctx, pool: Path, dir: Path, backfill: Int,
      increments: Int): Map[String, Any] = {
    val files = sortedCsv(pool).take(backfill + increments)
    val landing = dir.resolve("landing")
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    // Land atomically: the file source must never list a partial file.
    def land(f: Path): Unit = {
      Files.createDirectories(landing)
      val tmp = landing.resolve("." + f.getFileName)
      Files.copy(f, tmp)
      Files.move(tmp, landing.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
    }
    def run(kind: String): Unit = ops += c.tracer(kind) {
      val s0 = stealS()
      val t0 = System.nanoTime()
      try {
        val rows = DailyRunner.runOnce(c.spark, landing.toString,
          dir.resolve("warehouse").toString, dir.resolve("checkpoint").toString)
        Map("kind" -> kind, "ok" -> true, "wall_s" -> secs(t0), "rows" -> rows,
          "steal_s" -> (stealS() - s0))
      } catch {
        case e: Throwable => Map("kind" -> kind, "ok" -> false, "wall_s" -> secs(t0),
          "rows" -> 0L, "error" -> String.valueOf(e.getMessage).take(300))
      }
    }
    val t0 = System.nanoTime()
    files.take(backfill).foreach(land)
    run("backfill")
    for (f <- files.drop(backfill)) {
      land(f)
      run("increment")
    }
    run("noop")
    val wall = secs(t0)
    val extra = if (!c.tr) Map.empty else {
      val t1 = System.nanoTime()
      c.tracer("scan_clean")(noop(StockEtl.clean(StockEtl.readRawCsv(c.spark, landing.toString))))
      Map("scan_clean_s" -> secs(t1))
    }
    Map("wall_s" -> wall, "ops" -> ops, "table" -> dir.resolve("warehouse").toString) ++ extra
  }

  /** One staging cycle: release the memos, time an `llm_stage_index`
    * build from nothing, then run the memo consumers on the warm memos. */
  def llmStaging(c: Ctx, consumers: Seq[String]): Map[String, Any] = {
    val t0 = System.nanoTime()
    c.tracer("release")(LlmText.releaseMemo(c.spark))
    val releaseS = secs(t0)
    LlmText.clearStageTimings()
    val build = c.query("build", "llm_stage_index")
    val memos = LlmText.stageTimings.groupMapReduce(_._1.takeWhile(_ != ':'))(_._2)(_ + _)
    val storage = c.spark.sparkContext.getRDDStorageInfo
    c.drain()
    val tasks0 = c.layers.tasks
    val t1 = System.nanoTime()
    val ops = consumers.map(c.query("consumer", _))
    val consumersS = secs(t1)
    c.drain()
    Map("wall_s" -> secs(t0), "ops" -> (build +: ops), "release_s" -> releaseS,
      "consumers_s" -> consumersS, "memo_s" -> memos,
      "cached_mem_bytes" -> storage.map(_.memSize).sum,
      "cached_disk_bytes" -> storage.map(_.diskSize).sum,
      "consumer_tasks" -> (c.layers.tasks - tasks0))
  }

  private def layerMap(l: Layers): Map[String, Any] = l.synchronized {
    val skew = l.stageSkew.sorted
    Map("jobs" -> l.jobs, "stages" -> l.stages, "tasks" -> l.tasks,
      "failed_tasks" -> l.failedTasks, "task_run_ms" -> l.taskRunMs,
      "task_cpu_ns" -> l.taskCpuNs, "gc_ms" -> l.gcMs,
      "skew_median" -> (if (skew.isEmpty) 1.0 else skew(skew.length / 2)),
      "bytes_read" -> l.bytesRead, "records_read" -> l.recordsRead,
      "shuffle_write_bytes" -> l.shuffleWriteBytes,
      "shuffle_read_bytes" -> l.shuffleReadBytes,
      "shuffle_records" -> l.shuffleRecords, "fetch_wait_ms" -> l.fetchWaitMs,
      "spill_bytes" -> l.spillBytes, "peak_exec_bytes" -> l.peakExecBytes,
      "output_bytes" -> l.outputBytes, "output_records" -> l.outputRecords,
      "files_written" -> l.filesWritten, "partitions_written" -> l.partitionsWritten,
      "analysis_ms" -> l.analysisMs, "optimization_ms" -> l.optimizationMs,
      "planning_ms" -> l.planningMs, "streaming_ms" -> l.streaming.toMap,
      "stream_input_rows" -> l.streamInputRows)
  }

  /** CPU time the hypervisor has withheld from this machine's CPUs since
    * boot, summed over CPUs (the `steal` column of /proc/stat). */
  private def stealS(): Double =
    Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")(8).toDouble / 100

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  private def peakRss(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
}
