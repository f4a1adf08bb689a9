package perfbench

import graft.{BenchSession, GQuery, QueryRegistry}
import org.apache.spark.sql.{DataFrame, Row}

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run inside one JVM: build the bench session, run the
  * workload's queries once writing their outputs for the oracle check
  * (this pass is also the warm-up), then time closed-loop passes for the
  * requested seconds. With `--trace 1` the timed passes run with the
  * listener attached, and with the dedup/recsys queries replaced by their
  * span-instrumented compositions, whose rows are then checked against
  * the registered queries' outputs; the tracing overhead is their pass
  * time against that of a `--trace 0` run.
  *
  * Writes raw measurements as JSON to `--out`; run.py turns them into
  * metrics. Usage:
  * {{{
  * perfbench.Harness --inputs DIR --queries q1,q2 --seconds S --trace 0|1
  *                   --cpus N --dump DIR --out FILE
  * }}}
  */
object Harness {

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum
  private def jitMs: Long = ManagementFactory.getCompilationMXBean
    .getTotalCompilationTime
  private def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
  private def vmHwmKb: Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) => k.stripPrefix("--") -> v
    }.toMap
    val inputs = opt("inputs")
    val dump = opt("dump")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val queries = opt("queries").split(",").toSeq.map(QueryRegistry.byName)
    val start = Clock.ms()

    val spark = BenchSession.build(opt("cpus"))
    val sc = spark.sparkContext
    val sessionEnd = Clock.ms()
    val spans = new Spans(sc)
    // every failed operation, and the warm-up failures verify_local reads
    val failed = mutable.ArrayBuffer.empty[(String, String)]
    val warmFailures = mutable.LinkedHashMap.empty[String, String]
    def fail(what: String, e: Any): Unit = {
      System.err.println(s"[perfbench] $what FAILED: $e")
      failed += what -> e.toString.take(500)
    }
    var attempted = 0

    // ---- warm-up pass: every query once, output dumped for the oracle ----
    val jitAtStart = jitMs
    Files.createDirectories(Paths.get(dump))
    val warm = queries.map { q =>
      attempted += 1
      val qStart = Clock.ms()
      try q.fn(spark, inputs).coalesce(1).write.mode("overwrite")
        .parquet(s"$dump/${q.name}")
      catch { case e: Throwable =>
        fail(q.name, e)
        warmFailures(q.name) = e.toString.take(500)
      } finally BenchSession.releaseCaches(spark)
      q.name -> (Clock.ms() - qStart) / 1e3
    }
    writeVerifyManifest(dump, queries, warmFailures)
    val warmEnd = Clock.ms()
    val jitWarm = (jitMs - jitAtStart) / 1e3

    // ---- timed passes --------------------------------------------------
    // with --trace 1 they run the compositions in place of their
    // registered queries, keeping each one's rows for the check below
    val composed = if (!trace) Map.empty[String, Composed.Fn]
      else Composed.byQuery.filter { case (name, _) =>
        queries.exists(_.name == name) }
    val composedRows = mutable.LinkedHashMap.empty[String, (Composed.Built, Seq[Row])]
    def passes(): Seq[Map[String, Any]] = {
      val out = mutable.ArrayBuffer.empty[Map[String, Any]]
      val t0 = Clock.ms()
      var last = 0.0
      // a pass starts only when, at the last pass's pace, it ends within
      // the run: a pass close to the run length then always runs alone,
      // instead of sometimes pulling in a second, faster one
      while (out.isEmpty || Clock.ms() - t0 + last <= seconds * 1000) {
        val (c0, g0, j0) = (cpuNs, gcMs, jitMs)
        spans.pass = out.size
        val passStart = Clock.ms()
        val execs = spans("pass") {
          queries.map { q =>
            spans.query = q.name
            val fn = composed.get(q.name)
            var ok = true
            var buildEnd = 0.0
            val qStart = Clock.ms()
            spans("query") {
              try {
                val built = spans("build") {
                  fn.map(_(spark, inputs, spans))
                    .getOrElse(Composed.Built(q.fn(spark, inputs), Map.empty))
                }
                buildEnd = Clock.ms()
                spans("final") {
                  if (fn.isEmpty)
                    built.df.write.format("noop").mode("overwrite").save()
                  else composedRows(q.name) = built -> built.df.collect().toSeq
                }
              } catch { case e: Throwable =>
                fail(s"${q.name}/pass${out.size}", e)
                ok = false
              }
            }
            val qEnd = Clock.ms()
            BenchSession.releaseCaches(spark)
            if (buildEnd == 0.0) buildEnd = qEnd
            Map("query" -> q.name, "ok" -> ok,
              "build_s" -> (buildEnd - qStart) / 1e3,
              "final_s" -> (qEnd - buildEnd) / 1e3)
          }
        }
        attempted += queries.size
        last = Clock.ms() - passStart
        out += Map("traced" -> trace, "start" -> passStart,
          "wall_s" -> (Clock.ms() - passStart) / 1e3,
          "cpu_s" -> (cpuNs - c0) / 1e9, "gc_s" -> (gcMs - g0) / 1e3,
          "jit_s" -> (jitMs - j0) / 1e3, "execs" -> execs)
      }
      out.toSeq
    }
    val firstTimed = Clock.ms()
    val recorder = if (!trace) None else {
      val rec = new Recorder
      sc.addSparkListener(rec)
      Some(rec)
    }
    val timed = passes()
    recorder.foreach { rec =>
      // the listener bus is asynchronous: a last job run under a sentinel
      // span marks the point by which every earlier event was delivered
      sc.setLocalProperty(Spans.Key, Spans.Sentinel)
      sc.parallelize(Seq(1), 1).count()
      sc.setLocalProperty(Spans.Key, null)
      val deadline = System.currentTimeMillis() + 30000
      while (!rec.sentinelDone && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      Thread.sleep(300)
      sc.removeSparkListener(rec)
    }

    // ---- each composition must equal its registered query --------------
    val counters = mutable.LinkedHashMap.empty[String, Long]
    composedRows.toSeq.sortBy(_._1).foreach { case (name, (built, rows)) =>
      attempted += 1
      try {
        val got = rows.map(_.toString).sorted
        val want = rowsOf(spark.read.parquet(s"$dump/$name"))
        if (got != want) fail(s"$name/composed",
          s"composed pipeline returned ${got.size} rows that differ from " +
            s"the registered query's ${want.size}")
        built.counters.foreach { case (k, c) =>
          counters(k) = counters.getOrElse(k, 0L) + c(rows) }
      } catch { case e: Throwable => fail(s"$name/composed", e)
      } finally BenchSession.releaseCaches(spark)
    }

    val result = mutable.LinkedHashMap[String, Any](
      "start_ms" -> start,
      "session_build_s" -> (sessionEnd - start) / 1e3,
      "warm_s" -> (warmEnd - sessionEnd) / 1e3,
      "warm_query_s" -> warm.toMap,
      "jit_warm_s" -> jitWarm,
      "first_timed_ms" -> firstTimed,
      "attempted" -> attempted,
      "failures" -> failed.map { case (k, v) => Seq(k, v) },
      "counters" -> counters.toMap,
      "passes" -> timed,
      "rss_peak_kb" -> vmHwmKb,
      "cpus" -> sc.defaultParallelism,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"))
    recorder.foreach { rec =>
      result("spans") = spans.done.toSeq.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "query" -> s.query, "pass" -> s.pass, "start" -> s.start,
        "end" -> s.end))
      result("jobs") = rec.jobs.values.filter(_.span != Spans.Sentinel)
        .toSeq.map(j => Map(
          "id" -> j.id, "span" -> Option(j.span).map(_.toInt).getOrElse(-1),
          "start" -> j.start, "end" -> j.end, "ok" -> j.ok, "site" -> j.site,
          "stages" -> j.stages.size, "stages_run" -> j.stagesRun,
          "tasks" -> j.tasks, "tasks_failed" -> j.tasksFailed,
          "run_ms" -> j.runMs, "cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs,
          "wait_ms" -> j.waitMs, "in_bytes" -> j.inBytes,
          "in_rows" -> j.inRows, "out_bytes" -> j.outBytes,
          "sw_bytes" -> j.swBytes, "sr_bytes" -> j.srBytes,
          "fetch_wait_ms" -> j.fetchWaitMs, "spill_bytes" -> j.spillBytes))
      result("files_written") = rec.filesWritten
      result("cache_bytes") = rec.cacheBytes
      result("stream_batches") = rec.batches.toSeq.map { case (d, r) =>
        Map("duration_ms" -> d, "state_rows" -> r) }
    }
    Files.writeString(Paths.get(opt("out")), Json(result))
    spark.stop()
  }

  /** A frame's rows as sorted strings: an order-free multiset compare. */
  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  /** The three files scripts/verify_local.py reads next to the dumps. */
  private def writeVerifyManifest(dump: String, queries: Seq[GQuery],
                                  failures: collection.Map[String, String]): Unit = {
    def write(name: String, v: Any): Unit =
      Files.writeString(Paths.get(dump, name), Json(v))
    write("oracle_sql.json", QueryRegistry.oracleSql)
    write("attempted.json", queries.map(_.name))
    write("errors.json", failures.toMap)
  }
}

/** Minimal JSON writer for the harness's maps, sequences and scalars. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }.mkString("\"", "", "\"")
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
