package graft.sources

import java.net.ServerSocket
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ais.{AisDecoder, Fixtures}
import graft.jobs.GoldJob
import graft.ops.Reassembly

/** S2 end-to-end with a REAL socket: an in-process server asserts the
  * credential preamble (`\x01user\x00pwd\x00`,
  * ais_ingressServer.py:33-39), drops the connection mid-corpus to force
  * a reconnect (which must re-authenticate), and the streaming side runs
  * the full socket -> fragment parse -> stateful reassembly -> native
  * decode pipeline. Expected output is the BATCH pipeline on the same
  * lines — one definition of truth, two execution paths.
  */
class NmeaSocketSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("socket source: preamble auth, reconnect, reassembly->decode parity") {
    import spark.implicits._
    val allLines = Fixtures.sentenceGroups.flatMap(_._2)
    // split on a group boundary (indices 0..9 cover groups 0..8; the
    // 2-fragment group 3 spans 3-4 and stays whole)
    val (firstHalf, secondHalf) = allLines.splitAt(10)

    val server = new ServerSocket(0)
    val preambles = new java.util.concurrent.CopyOnWriteArrayList[Array[Byte]]()
    val serverThread = new Thread(() => {
      for (batch <- Seq(firstHalf, secondHalf)) {
        val sock = server.accept()
        val in = sock.getInputStream
        val buf = new ArrayBuffer[Byte]()
        var zeros = 0
        var b = in.read()
        while (zeros < 2 && b != -1) {
          buf += b.toByte
          if (b == 0 && buf.length > 1) zeros += 1
          if (zeros < 2) b = in.read()
        }
        preambles.add(buf.toArray)
        val out = sock.getOutputStream
        batch.foreach(l => out.write((l + "\n").getBytes(UTF_8)))
        out.flush()
        sock.close() // first close forces the client to reconnect
      }
    }, "nmea-test-server")
    serverThread.setDaemon(true)
    serverThread.start()

    // expected: the batch pipeline over the same corpus
    val expected = GoldJob.decode(allLines.toDF("value"))
      .select($"d.messageType", $"d.mmsi").as[(Int, Long)]
      .collect().sorted.toSeq

    val lines = Sources.tcpLines(spark, "127.0.0.1", server.getLocalPort,
      user = Some("user"), password = Some("pwd"))
    val decoded = Reassembly.assembleStream(
        Reassembly.parseFragments(lines).as[Reassembly.Fragment])
      .toDF()
      .withColumn("d", AisDecoder.ais_decode($"sentences"))
      .filter($"d".isNotNull)
      .select($"d.messageType", $"d.mmsi")
    val q = decoded.writeStream.format("memory").queryName("nmea_decoded")
      .outputMode("append").start()
    try {
      val deadline = System.currentTimeMillis() + 90000
      def got() = spark.table("nmea_decoded").count()
      while (got() < expected.size && System.currentTimeMillis() < deadline) {
        Thread.sleep(100)
        q.processAllAvailable()
      }
      val exp = (Array[Byte](1) ++ "user".getBytes(UTF_8) :+ 0.toByte) ++
        ("pwd".getBytes(UTF_8) :+ 0.toByte)
      assert(preambles.size === 2, "client must dial twice (reconnect)")
      assert(preambles.get(0).sameElements(exp), "first connect must authenticate")
      assert(preambles.get(1).sameElements(exp), "reconnect must re-authenticate")
      val streamed = spark.table("nmea_decoded")
        .as[(Int, Long)].collect().sorted.toSeq
      assert(streamed === expected)
      assert(expected.nonEmpty, "golden corpus must decode rows")
    } finally {
      q.stop()
      server.close()
    }
  }

  test("a half-given credential is rejected at load, naming the missing option") {
    // without the check the source connects with no preamble at all
    val noPassword = intercept[IllegalArgumentException](
      Sources.tcpLines(spark, "127.0.0.1", 9, user = Some("user")))
    assert(noPassword.getMessage.contains(s"'${NmeaSocket.PASSWORD}'"),
      noPassword.getMessage)
    val noUser = intercept[IllegalArgumentException](
      spark.readStream.format(classOf[NmeaSocketProvider].getName)
        .option(NmeaSocket.HOST, "127.0.0.1").option(NmeaSocket.PORT, "9")
        .option(NmeaSocket.PASSWORD, "pwd").load())
    assert(noUser.getMessage.contains(s"'${NmeaSocket.USER}'"), noUser.getMessage)
  }

  test("restart restore fast-forwards offsets — no regression, no phantom replay") {
    import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
    import org.apache.spark.sql.connector.read.streaming.Offset
    class TestStream extends PushBufferStream {
      def push(s: String): Unit = append(s)
      def slice(a: Long, b: Long): Array[String] =
        sliceFor(LineOffset(a), LineOffset(b))._2
      override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
        Array.empty
      override def createReaderFactory(): PartitionReaderFactory = null
      override def stop(): Unit = ()
    }
    // fresh instance = post-restart state: base 0, two lines already
    // received before the engine restores its checkpoint
    val st = new TestStream
    st.push("a"); st.push("b")
    // checkpoint said 10 lines were committed pre-restart
    st.deserializeOffset("10")
    // latestOffset must not regress below the committed watermark
    assert(st.latestOffset().asInstanceOf[LineOffset].n === 12L)
    // a replayed pre-restart batch is EMPTY (documented loss), never
    // other lines' data
    assert(st.slice(8, 10).isEmpty)
    // post-restart lines are renumbered from the restored offset up
    assert(st.slice(10, 12).toSeq === Seq("a", "b"))
    st.commit(LineOffset(12))
    assert(st.latestOffset().asInstanceOf[LineOffset].n === 12L)
    assert(st.slice(10, 12).isEmpty, "commit trims the delivered lines")

    // Order-insensitive restore: the engine may deserialize the replayed
    // batch's START (smaller) before its END, while the reader thread has
    // already buffered more post-restart lines than the start offset —
    // the fast-forward must still land on the MAX restored offset, so the
    // replayed batch is empty and new lines carry post-checkpoint numbers.
    val st2 = new TestStream
    (1 to 5).foreach(i => st2.push(s"x$i"))
    st2.deserializeOffset("3")  // start first: below buffered size
    st2.deserializeOffset("10") // then the checkpointed end
    assert(st2.slice(3, 10).isEmpty,
      "uncommitted pre-restart batch must replay EMPTY, not new lines")
    assert(st2.latestOffset().asInstanceOf[LineOffset].n === 15L)
    assert(st2.slice(10, 15).toSeq === (1 to 5).map(i => s"x$i"))
  }
}
