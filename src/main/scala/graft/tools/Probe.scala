package graft.tools

import graft.core.{GraftSession, Tables}

/** Dev utility: one subcommand per job — fixture schemas, a query's
  * static or executed plan, noop-sink timings, the codegen census, the
  * staging-build sizer, and ad-hoc SQL over the fixture tables. For a
  * correctness dump of some queries, give `graft.Verify <sfDir> <out>`
  * a third argument: comma-separated substrings of their names.
  *
  *   runMain graft.tools.Probe schemas <sfDir>
  *   runMain graft.tools.Probe explain <sfDir> <queryName>
  *   runMain graft.tools.Probe explainMany <sfDir> <outDir> <q1,q2,...>
  *   runMain graft.tools.Probe explainExec <sfDir> <queryName>
  *   runMain graft.tools.Probe timeMany <sfDir> <q1,q2,...> [reps]
  *   runMain graft.tools.Probe codegen <sfDir> <q1,q2,...> [cycles]
  *   runMain graft.tools.Probe stage <sfDir> [cycles] [q1,q2,...]
  *   runMain graft.tools.Probe sql <sfDir> <sqlFile>
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get()
    args.toList match {
      case "schemas" :: dir :: Nil =>
        Tables.names.foreach { n =>
          println(s"== $n")
          val df = Tables.load(spark, dir, n)
          df.printSchema()
          df.show(3, truncate = 60)
        }
      case "explain" :: dir :: name :: Nil =>
        graft.SparkEntry.queries(name)(spark, dir).explain("formatted")
      // Batch plan capture: one JVM, many formatted plans, one file per
      // query — the per-launch sbt cost (~30 s) dominates single-query
      // explain runs when auditing dozens of plans.
      case "explainMany" :: dir :: out :: names :: Nil =>
        new java.io.File(out).mkdirs()
        names.split(',').filter(_.nonEmpty).foreach { n =>
          val plan = graft.SparkEntry.queries(n)(spark, dir)
            .queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$out/$n.txt"), plan)
          println(s"[explainMany] wrote $out/$n.txt")
        }
      // Batch timing: one JVM, many queries, N noop-sink reps each —
      // prints min/all reps so plan-change A/Bs don't pay a JVM+JIT
      // warm-up per query. Same timed action as the bench.
      case "timeMany" :: dir :: names :: reps =>
        val n = reps.headOption.map(_.toInt).getOrElse(3)
        graft.SparkEntry.entry(spark).count() // codegen/classloader warm-up
        names.split(',').filter(_.nonEmpty).foreach { q =>
          val fn = graft.SparkEntry.queries(q)
          val times = (1 to n).map { _ =>
            val t0 = System.nanoTime()
            fn(spark, dir).write.mode("overwrite").format("noop").save()
            (System.nanoTime() - t0) / 1e9
          }
          println(f"[timeMany] $q min=${times.min}%.3f " +
            times.map(t => f"$t%.3f").mkString("[", ",", "]"))
        }
      // Codegen census: per cycle (memos released first, so every
      // cycle rebuilds the staging index), the classes each query
      // compiles and the compile time. A cycle after the first that
      // compiles nothing fits in Spark's codegen cache; the first
      // cycle's total, with the cache large enough, is the working set
      // `GraftSession` sizes the cache from.
      case "codegen" :: dir :: names :: cycles =>
        import org.apache.spark.metrics.source.CodegenMetrics
        import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        (1 to cycles.headOption.map(_.toInt).getOrElse(2)).foreach { c =>
          graft.queries.LlmText.releaseMemo(spark)
          val (n0, ns0, t0) = (compiles, CodeGenerator.compileTime, System.nanoTime())
          names.split(',').filter(_.nonEmpty).foreach { q =>
            val (n, ns) = (compiles, CodeGenerator.compileTime)
            graft.SparkEntry.queries(q)(spark, dir)
              .write.mode("overwrite").format("noop").save()
            println(f"[codegen] cycle $c $q compiles=${compiles - n} " +
              f"compile_ms=${(CodeGenerator.compileTime - ns) / 1e6}%.0f")
          }
          println(f"[codegen] cycle $c total compiles=${compiles - n0} " +
            f"compile_ms=${(CodeGenerator.compileTime - ns0) / 1e6}%.0f " +
            f"wall_s=${(System.nanoTime() - t0) / 1e9}%.2f")
        }
      // Staging census: per cycle, the memo release, the
      // `llm_stage_index` build (the registry call, which runs every
      // memo's eager checkpoint) and its count into the noop sink, each
      // memo's exclusive build time, and the Spark jobs the build and
      // count ran, in total and per memo: a job is charged to the memo
      // building when it started (`LlmText.MemoJobProperty`), or to
      // `none` (the result write). Then each relation's row count (the
      // query's own rows, observed at build time: collecting them runs
      // no job), and, when a consumer list is given, each consumer's
      // wall time into the noop sink right after the build. Cycle 1
      // pays first-use codegen; later cycles are the warm rebuild the
      // benchmark's staging cycle times.
      case "stage" :: dir :: rest =>
        import graft.queries.LlmText
        val jobsBy = new java.util.concurrent.ConcurrentHashMap[String, Integer]
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onJobStart(
                e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
              val m = Option(e.properties)
                .flatMap(p => Option(p.getProperty(LlmText.MemoJobProperty)))
                .getOrElse("none")
              jobsBy.merge(m, 1, (a: Integer, b: Integer) => a + b)
            }
          })
        // Listener events arrive asynchronously: wait for the bus to
        // drain before reading the job counts.
        def jobsNow: Map[String, Int] = {
          org.apache.spark.sql.graftshims.DatasetShim
            .drainListeners(spark.sparkContext)
          import scala.jdk.CollectionConverters._
          jobsBy.asScala.map { case (k, v) => k -> v.intValue }.toMap
        }
        def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
        val consumers = rest.drop(1).headOption.toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
        (1 to rest.headOption.map(_.toInt).getOrElse(3)).foreach { c =>
          val t0 = System.nanoTime()
          LlmText.releaseMemo(spark)
          val releaseS = secs(t0)
          LlmText.clearStageTimings()
          val j0 = jobsNow
          val t1 = System.nanoTime()
          val df = graft.SparkEntry.queries("llm_stage_index")(spark, dir)
          val buildS = secs(t1)
          val t2 = System.nanoTime()
          df.write.mode("overwrite").format("noop").save()
          val countS = secs(t2)
          val j1 = jobsNow
          val perMemo = j1.map { case (k, n) => k -> (n - j0.getOrElse(k, 0)) }
            .filter(_._2 > 0).toSeq.sortBy(_._1)
          val memos = LlmText.stageTimings
            .map { case (k, v) => f"${k.takeWhile(_ != ':')}=$v%.3f" }
          val rows = df.collect().map(r => s"${r.getString(0)}=${r.getLong(1)}")
          val consumed = consumers.map { q =>
            val t = System.nanoTime()
            graft.SparkEntry.queries(q)(spark, dir).write.mode("overwrite").format("noop").save()
            f"$q=${secs(t)}%.3f"
          }
          println(f"[stage] cycle $c release_s=$releaseS%.3f " +
            f"build_s=$buildS%.3f count_s=$countS%.3f " +
            f"total_s=${buildS + countS}%.3f jobs=${perMemo.map(_._2).sum} " +
            memos.mkString("memo_s(", " ", ") ") +
            perMemo.map { case (k, n) => s"$k=$n" }.mkString("jobs(", " ", ") ") +
            rows.mkString("rows(", " ", ")") +
            (if (consumed.isEmpty) "" else consumed.mkString(" consumers_s(", " ", ")")))
        }
      // AQE's runtime join re-planning (e.g. SMJ→BHJ once the build
      // side's true size is known) is invisible in the static plan:
      // execute, then print the FINAL adaptive plan. This is the audit
      // for "no broadcast hint, but AQE still broadcasts at this sf".
      case "explainExec" :: dir :: name :: Nil =>
        val df = graft.SparkEntry.queries(name)(spark, dir)
        df.collect()
        println(df.queryExecution.executedPlan.toString)
      // Ad-hoc SQL over the fixture tables (bound by name through
      // Tables.sql), statement read from the file at <path>. Full
      // 17-digit doubles so cross-engine ulp diffs are visible.
      case "sql" :: dir :: path :: Nil =>
        val stmt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(path)), "UTF-8")
        Tables.sql(spark, dir, stmt).collect().foreach { r =>
          println((0 until r.length).map { i =>
            r.get(i) match {
              case d: java.lang.Double => "%.17g".format(d)
              case v => String.valueOf(v)
            }
          }.mkString(" | "))
        }
      case other =>
        System.err.println("usage: schemas <dir> | explain <dir> <query> | " +
          "explainMany <dir> <out> <queries> | explainExec <dir> <query> | " +
          "timeMany <dir> <queries> [reps] | codegen <dir> <queries> [cycles] | " +
          s"stage <dir> [cycles] [queries] | sql <dir> <file>; got $other")
    }
    spark.stop()
  }
}
