package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one measured run of a workload found. End-to-end metrics go to
  * `e2e`, layer metrics (traced run only) to `layer`; both map a name
  * to (value, unit). `attempted`/`failed` count the run's operations,
  * a wrong output counting as failed.
  */
final class Result {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
  var throughput = 0.0

  def fail(n: Long, why: => String): Unit =
    if (n > 0) { failed += n; println(s"check failed ($n): $why") }
}

final case class Ctx(spark: SparkSession, seed: Long, work: Path,
    progress: Progress) {
  def dir(name: String): Path = {
    val d = work.resolve(name)
    Files.createDirectories(d)
    d
  }
}

/** A benchmark workload: `setup` (data generation, index builds) is run
  * several times, the last one's state kept; `warmUp` then runs once,
  * and `run` measures for the given seconds.
  */
trait Workload {
  def setup(rep: Int): Unit
  def warmUp(): Unit
  def run(seconds: Double, tracer: Tracer, r: Result): Unit
}

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace
  * <0|1> --work <dir>`. Prints progress lines, then one line
  * `PERFBENCH_RESULT {...}` with every metric it measured; the launcher
  * (`perfbench/run.py`) selects the declared ones from that line.
  */
object Main {

  /** Set-up repetitions. `setup_s` is the session start, plus the
    * median set-up, plus the one warm-up.
    */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)

    val t0 = System.nanoTime()
    val spark = graft.Sessions.build(
      Runtime.getRuntime.availableProcessors().toString,
      Seq("spark.local.dir" -> work.resolve("spark-local").toString,
        "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString))
    val sessionS = (System.nanoTime() - t0) / 1e9
    val progress = new Progress
    spark.streams.addListener(progress)
    val ctx = Ctx(spark, seed, work, progress)
    val w: Workload = workload match {
      case "ais_gold" => new AisGold(ctx)
      case "bm25_serve" => new Bm25Serve(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val exit = try {
      val setupS = (0 until SetupReps).map { rep =>
        val s0 = System.nanoTime()
        w.setup(rep)
        (System.nanoTime() - s0) / 1e9
      }
      val w0 = System.nanoTime()
      w.warmUp()
      val warmS = (System.nanoTime() - w0) / 1e9
      println(f"setup: session $sessionS%.3f s, set-ups ${setupS.map(s => f"$s%.3f").mkString(", ")} s, " +
        f"warm-up $warmS%.3f s (jvm age ${jvmAge()}%.1f s)")
      Jvm.liveHeapMb() // a full collection, so set-up garbage stays out of the run
      val r = new Result
      val runId = s"$workload-$seed"
      if (!traced) {
        val (gc0, gcS0) = Jvm.gc()
        w.run(seconds, new Tracer(spark.sparkContext, enabled = false, runId), r)
        val (gc1, gcS1) = Jvm.gc()
        r.e2e("setup_s") = (sessionS + Stats.median(setupS) + warmS, "s")
        r.e2e("live_heap_mb") = (Jvm.liveHeapMb(), "MB")
        r.layer("jvm.gc_s") = (gcS1 - gcS0, "s")
        r.layer("jvm.gc_count") = ((gc1 - gc0).toDouble, "count")
      } else {
        val untraced = new Result
        w.run(seconds, new Tracer(spark.sparkContext, enabled = false, runId), untraced)
        val tracer = new Tracer(spark.sparkContext, enabled = true, runId)
        val (gc0, gcS0) = Jvm.gc()
        w.run(seconds, tracer, r)
        val (gc1, gcS1) = Jvm.gc()
        tracer.write(work.getParent.getParent.resolve("traces").resolve(s"$runId.jsonl"))
        tracer.close()
        r.attempted += untraced.attempted
        r.failed += untraced.failed
        r.layer("jvm.gc_s") = (gcS1 - gcS0, "s")
        r.layer("jvm.gc_count") = ((gc1 - gc0).toDouble, "count")
        r.layer("trace.untraced_throughput_per_s") = (untraced.throughput, "items/s")
        r.layer("trace.throughput_per_s") = (r.throughput, "items/s")
        r.layer("trace.overhead_frac") =
          (if (untraced.throughput > 0) 1.0 - r.throughput / untraced.throughput else 0.0, "ratio")
      }
      r.layer("check.failed_frac") =
        (if (r.attempted > 0) r.failed.toDouble / r.attempted else 0.0, "ratio")
      println(f"measured (jvm age ${jvmAge()}%.1f s)")
      println("PERFBENCH_RESULT " + json(r))
      0
    } catch {
      case t: Throwable =>
        t.printStackTrace()
        1
    } finally {
      spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
      spark.stop()
    }
    System.exit(exit)
  }

  private def jvmAge(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  private def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not a finite number")
    v.toString
  }

  private def json(r: Result): String = {
    def obj(m: mutable.LinkedHashMap[String, (Double, String)]): String =
      m.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
        .mkString("{", ",", "}")
    s"""{"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""e2e":${obj(r.e2e)},"layer":${obj(r.layer)}}"""
  }
}
