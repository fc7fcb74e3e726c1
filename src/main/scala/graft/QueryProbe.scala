package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Measurement main (guide §1): run one or more SparkEntry queries with a
  * job/stage listener and print, per query, wall-clock, Spark job count,
  * summed job wall (end-start), summed executor task time, and the
  * top job call sites — the attribution that separates "driver-side
  * plan/analysis time" (wall ≫ job wall) from "many tiny jobs"
  * (jobs ≫ expected) from "real task compute" (task time ≈ wall × cores).
  *
  * Usage: runMain graft.QueryProbe <q>[,<q>...] [sfDir] [reps]
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(",").map(_.trim).toSeq)
      .getOrElse(Seq("q1_agg"))
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // A/B experiment hook: SPARK_GRAFT_PROBE_CONF="k=v;k2=v2" applies
    // extra session confs so config hypotheses are measurable without a
    // code change per trial.
    val extra = sys.env.get("SPARK_GRAFT_PROBE_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.nonEmpty)
      .map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) if k.nonEmpty => (k, v)
          case _ => sys.error(
            s"SPARK_GRAFT_PROBE_CONF: malformed entry '$kv' (want k=v)")
        }
      }
    // shared engine session factory (+ the probe's A/B conf overrides)
    val spark = Sessions.build(cpus, extraConfs = extra)

    final case class J(id: Int, site: String, start: Long, var end: Long = -1L,
      var nTasks: Int = 0)
    val jobs = new ConcurrentLinkedQueue[J]()
    val byId = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val taskTime = new java.util.concurrent.atomic.AtomicLong(0L)
    val nTasks = new java.util.concurrent.atomic.AtomicLong(0L)
    val nStages = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        // attribution: job description if set, else the SQL execution id
        // plus the job's leaf-stage name (the AQE stage being
        // materialized) — "?" told us nothing about WHICH of a query's
        // 60+ AQE stage-jobs carry the floor
        val execId = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .getOrElse("-")
        val stageName = js.stageInfos.lastOption.map(_.name.takeWhile(_ != '('))
          .getOrElse("?").trim
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.nonEmpty)
          .getOrElse(s"exec=$execId $stageName")
        val r = J(js.jobId, site, js.time,
          nTasks = js.stageInfos.map(_.numTasks).sum)
        jobs.add(r); byId.put(js.jobId, r); ()
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(byId.get(je.jobId)).foreach(_.end = je.time); ()
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        taskTime.addAndGet(sc.stageInfo.taskMetrics.executorRunTime)
        nTasks.addAndGet(sc.stageInfo.numTasks)
        nStages.incrementAndGet(); ()
      }
    })

    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case None => System.err.println(s"unknown query: $n")
        case Some(fn) =>
          (1 to reps).foreach { rep =>
            jobs.clear(); byId.clear(); taskTime.set(0L)
            nTasks.set(0L); nStages.set(0L)
            val t0 = System.nanoTime()
            fn(spark, sfDir).count()
            val wall = (System.nanoTime() - t0) / 1e9
            // settle async listener events before reading them
            Thread.sleep(300)
            val js = jobs.toArray(Array.empty[J])
            val jobWall = js.iterator
              .map(j => math.max(0L, j.end - j.start)).sum / 1e3
            val top = js.groupBy(_.site).view
              .mapValues(a => (a.length,
                a.iterator.map(j => math.max(0L, j.end - j.start)).sum,
                a.iterator.map(_.nTasks).sum))
              .toSeq.sortBy(-_._2._2).take(40)
            println(f"""== $n%s rep$rep: wall=$wall%.2fs jobs=${js.length}%d stages=${nStages.get}%d tasks=${nTasks.get}%d jobWall=$jobWall%.2fs taskTime=${taskTime.get / 1e3}%.2fs""")
            top.foreach { case (site, (cnt, ms, tk)) =>
              println(f"   ${ms / 1e3}%7.2fs x$cnt%-4d ($tk%d tasks) $site%s")
            }
            graft.ext.Dedup.clearSignatureCaches(blocking = true)
          }
      }
    }
    spark.stop()
  }
}
