package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Live socket source connectors (SURVEY §2.1 S2, S10). File sources
  * are plain Spark readers at their use sites: S1 datalogs are
  * `spark.read.text` (batch) or `spark.readStream.text` (a landing
  * directory), S3 JSON lines are `from_json`, S9 CSV dimensions are
  * `spark.read.csv` joined under `broadcast`.
  *
  * The analytic core is transport-agnostic: every source lands on the same
  * DataFrame of raw lines (or XML docs) that the decode/flatten operators
  * consume. TCP specifics from the reference (credential preamble
  * `\x01user\x00pwd\x00` at ais_ingressServer.py:33-39, 30 s heartbeat)
  * belong to a thin connector shell outside the SQL engine — in production
  * a socat/NiFi/Kafka hop, or Spark's socket source for dev.
  */
object Sources {

  /** S2: live TCP NMEA feed with the reference's credential preamble
    * (`\x01user\x00pwd\x00`, ais_ingressServer.py:33-39) and reconnect —
    * a custom DataSource V2 micro-batch stream (see NmeaSocket.scala).
    * Give both `user` and `password` or neither; the provider rejects
    * one without the other.
    */
  def tcpLines(spark: SparkSession, host: String, port: Int,
      user: Option[String] = None, password: Option[String] = None): DataFrame =
    spark.readStream
      .format(classOf[NmeaSocketProvider].getName)
      .option(NmeaSocket.HOST, host)
      .option(NmeaSocket.PORT, port.toString)
      .options(user.map(NmeaSocket.USER -> _).toMap ++
        password.map(NmeaSocket.PASSWORD -> _))
      .load()

  /** S10 (live): the reference's IVEF TCP client protocol — XML login,
    * `</MSG_IVEF>` framing, Ping->Pong heartbeat, reconnect+re-login on
    * a silent feed (see IvefSocket.scala). Emits (seq, xml) rows, one
    * MSG_IVEF document each, the input `Ivef.parseDoc` flattens.
    */
  def ivefStream(spark: SparkSession, host: String, port: Int,
      name: String, password: String, heartbeatSec: Long = 30L): DataFrame =
    spark.readStream
      .format(classOf[IvefSocketProvider].getName)
      .option(IvefSocket.HOST, host)
      .option(IvefSocket.PORT, port.toString)
      .option(IvefSocket.NAME, name)
      .option(IvefSocket.PASSWORD, password)
      .option(IvefSocket.HEARTBEAT_SEC, heartbeatSec.toString)
      .load()
}
