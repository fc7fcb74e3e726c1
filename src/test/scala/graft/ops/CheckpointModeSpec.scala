package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Curation

/** The stage-boundary checkpoint's fault-tolerance knob: with a
  * RELIABLE checkpoint directory configured (`sc.setCheckpointDir`,
  * the standard Spark knob) every batch stage boundary — the q122
  * store leaf and each delta-stage leaf — checkpoints THERE instead of
  * into executor-resident local blocks, so an executor loss on a real
  * cluster recomputes nothing and loses nothing. Same rows in both
  * modes (the checkpoint is a materialization boundary, not a
  * transform). This spec drives the q122 batch ingest through both:
  * [[Curation.incrementalIngest]] builds its lazy store leaf, then runs
  * [[Curation.acceptDelta]] — the one delta chain q125 and the stream
  * run too — whose eager counted stage leaves take the same knob. It
  * pins (a) row equality, (b) that the reliable mode actually WROTE
  * checkpoint data for the store leaf and the chain's stage leaves
  * under the configured directory, and (c) that the tracked
  * local-mode leaves are released by the query-scoped lifecycle
  * ([[graft.ext.Dedup.clearSignatureCaches]]).
  */
class CheckpointModeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    org.apache.spark.sql.graft.GraftExtensions.install(s)
    s
  }

  private def bucketOf(id: Long): Long =
    ((id % 1000000000L) * 2654435761L) % 100L
  private def pickIds(n: Int, pred: Long => Boolean): Seq[Long] =
    Iterator.iterate(1L)(_ + 1L).filter(pred).take(n).toSeq
  private def text(tag: String): String = {
    val u = ('a' to 'l').map(ch => s"${tag}q$ch")
    val stops = Seq("the", "and", "of", "to", "a", "in", "is", "for")
    val inter = u.take(8).zip(stops).flatMap { case (w, st) => Seq(w, st) }
    (inter ++ u.drop(8)).mkString(" ")
  }

  test("batch ingest rows are identical under local and reliable checkpoint modes") {
    import spark.implicits._
    val storeIds = pickIds(6, id => id % 7 != 0 && bucketOf(id) < 80)
    val deltaIds = pickIds(5, id => id % 7 == 0 && bucketOf(id) < 80)
    // a within-delta exact twin pair, so the component stage has work
    val Seq(d0, d1, d2, d3, d4) = deltaIds
    val docs = (
      storeIds.zipWithIndex.map { case (id, i) =>
        (id, text(s"s${('a' + i).toChar}")) } ++
        Seq(d0 -> text("pair"), d1 -> text("pair"),
          d2 -> text("fresh"), d3 -> (text("near") + " extraTok"),
          d4 -> text("near")))
      .map { case (id, t) => (id, "en", "web", t.length.toLong, t) }
      .toDF("doc_id", "lang", "source", "n_chars", "text")
    val allIds = storeIds ++ deltaIds
    val emb = allIds.zipWithIndex.map { case (id, i) =>
      (id, (0 until 64).map(d => if (d == i % 64) 1.0f else 0.0f))
    }.toDF("vec_id", "embedding")
    val pred = pmod(col("doc_id"), lit(7L)) === 0L

    def run(): Seq[Seq[Any]] = {
      val r = Curation.incrementalIngest(spark, docs, emb, pred)
        .orderBy($"doc_id").collect().map(_.toSeq).toSeq
      graft.ext.Dedup.clearSignatureCaches(blocking = true)
      r
    }

    // local mode (no checkpoint dir): the default executor-resident
    // leaves; afterwards the leaves THIS run created must be RELEASED
    // by the query-scoped clear (no lingering locally-checkpointed
    // blocks). Scoped to new RDD ids — in the shared-JVM suite other
    // specs may legitimately hold their own persistent frames.
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val localRows = run()
    val lingering = spark.sparkContext.getPersistentRDDs
      .filter { case (id, r) => !before(id) && r.getStorageLevel.isValid }
    assert(lingering.isEmpty,
      s"stage leaves not released: ${lingering.keys.toSeq.sorted}")

    // reliable mode: same rows, and checkpoint data actually lands
    // under the configured directory
    val ckDir = java.nio.file.Files
      .createTempDirectory("graft_reliable_ck").toString
    spark.sparkContext.setCheckpointDir(ckDir)
    try {
      val reliableRows = run()
      assert(reliableRows === localRows)
      assert(reliableRows.nonEmpty)
      def treeSize(f: java.io.File): Long =
        if (f.isFile) f.length
        else Option(f.listFiles).map(_.map(treeSize).sum).getOrElse(0L)
      assert(treeSize(new java.io.File(ckDir)) > 0L,
        "reliable mode wrote no checkpoint data")
      // the store leaf plus at least the chain's d2 and d3 leaves
      def rddDirs(f: java.io.File): Int =
        Option(f.listFiles).map(_.map(c =>
          (if (c.isDirectory && c.getName.startsWith("rdd-")) 1 else 0) +
            rddDirs(c)).sum).getOrElse(0)
      assert(rddDirs(new java.io.File(ckDir)) >= 3,
        "the chain's stage leaves did not checkpoint reliably")
    } finally spark.sparkContext.setCheckpointDir(null)
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "checkpoint dir must be unset for subsequent suites")
  }
}
