package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream,
  DataOutputStream}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.rayfall.{RaySerde, Rayfall}
import graft.rayfall.Rayfall.{RVal, VAtom, VTab}

/** The interactive surface: `Rayfall.serveIpc` in this process on an
  * ephemeral port, and one closed-loop client speaking the `RaySerde`
  * binary protocol (the next request goes out only when the previous
  * reply has been read and decoded). Requests are Rayfall text shaped
  * like r01/r02/r05/r06 (grouped select with where, scalar projections,
  * update-where, grouped update), constants drawn from the seed; replies
  * run from 3 rows to the whole `orders` table. */
object Ipc {
  final case class Req(name: String, text: String)

  def requests(seed: Long): Seq[Req] = {
    val rnd = new scala.util.Random(seed)
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    def orders() =
      s"(select {from: orders where: (< o_orderkey ${1 + rnd.nextInt(1500)})})"
    val lo = 1000 * (10 + rnd.nextInt(100))
    Seq(
      Req("ipc_r01",
        "(select {sum_qty: (sum l_quantity) n: (count l_quantity) " +
        "avg_disc: (avg l_discount) from: lineitem " +
        s"where: (> l_quantity ${1 + rnd.nextInt(49)}) by: l_returnflag})"),
      Req("ipc_r02",
        "(select {o_orderkey: o_orderkey halfkey: (/ o_orderkey 2) " +
        "bucket: (xbar o_orderkey 1000) " +
        s"midprice: (within o_totalprice [$lo.0 ${lo + 100000}.0]) " +
        s"""urgent: (like o_orderpriority "${1 + rnd.nextInt(5)}*") """ +
        s"from: orders where: (< o_orderkey ${1 + rnd.nextInt(1500)})})"),
      Req("ipc_r05",
        "(select {o_orderkey: o_orderkey price: o_totalprice from: " +
        "(update {o_totalprice: (* o_totalprice 2) " +
        s"from: ${orders()} " +
        s"""where: (== o_orderpriority "${prios(rnd.nextInt(5))}")})})"""),
      Req("ipc_r06",
        "(select {o_orderkey: o_orderkey price: o_totalprice from: " +
        "(update {o_totalprice: (max o_totalprice) " +
        s"from: ${orders()} by: o_orderpriority " +
        s"where: (> o_totalprice ${lo * 2}.0)})})"))
  }

  /** One client connection: the reference handshake, then sync frames. */
  final class Client(spark: SparkSession, port: Int) {
    private val sock = new java.net.Socket("127.0.0.1", port)
    sock.setTcpNoDelay(true)
    private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
    out.write(Array[Byte](RaySerde.Version.toByte, 0)); out.flush()
    require(in.read() >= 0, "ipc: no handshake reply")

    /** Sends `text`, reads and decodes the reply: (seconds, bytes, value). */
    def call(text: String): (Double, Int, RVal) = {
      val frame = RaySerde.serialize(VAtom(text), msgtype = 1)
      val t0 = System.nanoTime()
      out.write(frame); out.flush()
      val reply = RaySerde.readFrame(in)
      val v = RaySerde.deserialize(spark, reply)
      ((System.nanoTime() - t0) / 1e9, reply.length, v)
    }

    def close(): Unit = try sock.close() catch { case _: Exception => () }
  }

  /** A reply's rows, canonical and sorted, for comparing two results. */
  def digest(v: RVal): (Long, Seq[String]) = v match {
    case VTab(df) =>
      val rows = df.collect().toSeq.map(canon).sorted
      rows.size.toLong -> rows
    case other => 1L -> Seq(other.toString)
  }

  /** A row as text, doubles to 9 significant digits (the two engines may
    * add in a different order). */
  def canon(row: Row): String = row.toSeq.map {
    case d: Double => f"$d%.9g"
    case x => String.valueOf(x)
  }.mkString("|")

  /** The server, one client connection, and every reply digest seen. */
  final class Session(spark: SparkSession, val tables: Map[String, DataFrame]) {
    private val server = Rayfall.serveIpc(spark, 0, tables)
    private val client = new Client(spark, server.port)
    private val replies = mutable.Map[String, mutable.Set[(Long, Seq[String])]]()

    /** The op of request `q`: timed over the socket; traced in process,
      * as the server evaluates it. */
    def op(q: Req): Op = Op(q.name, "i",
      () => Rayfall.script(spark, q.text, tables), call = Some(() => {
        val (_, _, v) = client.call(q.text)
        val d = digest(v)
        replies.getOrElseUpdate(q.name, mutable.Set()) += d
        d._1
      }))

    /** Every reply must equal the in-process result of the same text.
      * Traced runs also split each request into eval (script plus
      * collect) and serde (encoding the collected table and decoding it
      * again, as server and client do). */
    def check(reqs: Seq[Req], traced: Boolean): Unit = for (q <- reqs) {
      val df = Rayfall.script(spark, q.text, tables)
      val rows = df.collect()
      val want = rows.size.toLong -> rows.toSeq.map(canon).sorted
      val got = replies.getOrElse(q.name, mutable.Set())
      val bad = got.filterNot(_ == want)
      Out.emit("check", "name" -> q.name, "rows" -> want._1,
        "ok" -> (got.nonEmpty && bad.isEmpty),
        "why" -> (if (got.isEmpty) "no reply" else if (bad.isEmpty) ""
          else s"reply rows ${bad.head._1} differ from in-process ${want._1}"))
      if (traced) {
        val t1 = System.nanoTime()
        Rayfall.script(spark, q.text, tables).collect()
        val ev = (System.nanoTime() - t1) / 1e9
        val local = spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), df.schema)
        val t2 = System.nanoTime()
        val bytes = RaySerde.serialize(VTab(local), msgtype = 2)
        RaySerde.deserialize(spark, bytes)
        val sd = (System.nanoTime() - t2) / 1e9
        Out.emit("ipc_layer", "name" -> q.name, "eval_s" -> ev,
          "serde_s" -> sd, "bytes" -> bytes.length)
      }
    }

    def close(): Unit = { client.close(); server.stop() }
  }
}
