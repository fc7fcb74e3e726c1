package graft.jobs

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.ops.{GeoMath, TssZones, ZoneTracker}

/** The stateful streaming family re-run under the RocksDB state store
  * provider (ships inside spark-sql; no extra jars): session windows,
  * dedup-within-watermark, event-time expiry and the upsert sink — plus
  * fragment reassembly and the zone tracker below. The default in-memory
  * store holds every key on-heap per executor; at 100 TB-ingest key
  * cardinality (reassembly buffers, dedup horizons) RocksDB's
  * off-heap + spill-to-disk store is the one that survives, so it must
  * be proven green, not assumed.
  *
  * [[stateFileMarkers]] pins the proof: the checkpoint must contain
  * RocksDB .zip/.changelog artifacts, so a provider-conf typo fails
  * loudly instead of silently re-testing the default store.
  */
class StreamOpsRocksDBSpec extends StreamOpsBehaviors(
  Some("org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")) {

  override protected def stateFileMarkers: Seq[String] =
    Seq(".zip", ".changelog")

  test("streaming fragment reassembly buffers across batches on RocksDB") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // reassembly state is THE unbounded-key streaming buffer at ingest
    // scale (one entry per in-flight multi-fragment message), so this
    // is the family member that most needs the disk-backed store
    val mem = MemoryStream[graft.ops.Reassembly.Fragment]
    val ckpt = Files.createTempDirectory("ra_rocks_ckpt").toString
    val q = graft.ops.Reassembly.assembleStream(mem.toDS())
      .writeStream.format("memory").queryName("assembled_rocks")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      mem.addData(graft.ops.Reassembly.Fragment(9, "A", 2, 1, "!AIVDM,frag1", "tag1"))
      q.processAllAvailable()
      assert(spark.table("assembled_rocks").count() === 0,
        "half-assembled message must stay buffered")
      // completion requires batch-1's fragment to come back OUT of the
      // RocksDB store
      mem.addData(graft.ops.Reassembly.Fragment(9, "A", 2, 2, "!AIVDM,frag2", "tag2"))
      q.processAllAvailable()
      val rows = spark.table("assembled_rocks")
        .as[graft.ops.Reassembly.Assembled].collect()
      assert(rows.length === 1)
      assert(rows.head.sentences === Seq("!AIVDM,frag1", "!AIVDM,frag2"))
      assert(rows.head.tagblock === "tag1")
      assertProviderEngaged(ckpt)
    } finally q.stop()
  }

  test("zone tracker flatMapGroupsWithState runs on RocksDB state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val inside = (102.2, 2.0) // mid-strait, inside TSS-Northbound
    val outside = (99.0, 5.0)
    assert(GeoMath.rayCast(inside._1, inside._2, TssZones.Northbound))
    val mem = MemoryStream[ZoneTracker.VesselPos]
    val ckpt = Files.createTempDirectory("zt_rocks_ckpt").toString
    val q = ZoneTracker.transitions(mem.toDS())
      .writeStream.format("memory").queryName("transitions_rocks")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    try {
      mem.addData(
        ZoneTracker.VesselPos(1L, ts(1), outside._1, outside._2),
        ZoneTracker.VesselPos(1L, ts(2), inside._1, inside._2))
      q.processAllAvailable()
      // the exit in batch 2 only emits if batch 1's inside-state was
      // durably persisted and reloaded from the RocksDB store
      mem.addData(ZoneTracker.VesselPos(1L, ts(3), outside._1, outside._2))
      q.processAllAvailable()
      val rows = spark.table("transitions_rocks").as[ZoneTracker.ZoneTransition]
        .collect().sortBy(_.ts.getTime)
      assert(rows.map(r => (r.zone, r.entered)).toSeq ===
        Seq(("N", true), ("N", false)))
      assertProviderEngaged(ckpt)
    } finally q.stop()
  }
}
