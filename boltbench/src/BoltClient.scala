package boltbench

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, DataInputStream}
import java.net.Socket

import graft.sources.PackStream

/** Minimal Bolt 4.4 client over the engine's public PackStream codec:
  * handshake, HELLO, then RUN + PULL{n:-1} pipelined per statement. A
  * FAILURE is answered with RESET so the session stays usable.
  */
final class BoltClient(port: Int) extends AutoCloseable {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream, 1 << 16))
  private val out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)

  out.write(Array(0x60, 0x60, 0xB0, 0x17).map(_.toByte))
  out.write(Array[Byte](0, 0, 4, 4, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0))
  out.flush()
  private val agreed = Array.fill(4)(in.readByte())
  require(agreed(3) == 4, s"server refused Bolt 4.4: ${agreed.mkString(",")}")
  send(BoltClient.struct(0x01, Map("user_agent" -> "boltbench/1", "scheme" -> "none")))
  out.flush()
  require(reply()._1 == 0x70, "HELLO refused")

  private def send(msg: Array[Byte]): Unit = out.write(PackStream.frame(msg))

  /** One chunked message, re-assembled with PackStream.deframe. Returns
    * (signature, fields-or-record-values, bytes on the wire).
    */
  private def reply(): (Int, Any, Int) = {
    val raw = new ByteArrayOutputStream()
    var n = -1
    while (n != 0) {
      n = in.readUnsignedShort()
      raw.write(n >> 8); raw.write(n & 0xFF)
      if (n > 0) { val b = new Array[Byte](n); in.readFully(b); raw.write(b) }
    }
    val bytes = raw.toByteArray
    val msg = PackStream.deframe(bytes).head
    val sig = msg(1) & 0xFF
    (sig, PackStream.decode(msg, 0)._1, bytes.length)
  }

  /** Run one statement to its last record. */
  def run(text: String, params: Map[String, Any]): BoltClient.Result = {
    send(BoltClient.struct(0x10, text, params, Map.empty[String, Any]))
    send(BoltClient.struct(0x3F, Map("n" -> -1L)))
    out.flush()
    val records = Vector.newBuilder[Seq[Any]]
    var bytes = 0L
    var failure: Option[String] = None
    val (sig, body, b) = reply()
    bytes += b
    if (sig == 0x7F) failure = Some(body.toString)
    // PULL answer: RECORDs then SUCCESS, or IGNORED after a RUN failure
    var done = false
    while (!done) {
      val (s, v, b2) = reply()
      bytes += b2
      s match {
        case 0x71 => records += v.asInstanceOf[Seq[Any]]
        case 0x7F => failure = failure.orElse(Some(v.toString)); done = true
        case _ => done = true
      }
    }
    if (failure.isDefined) {
      send(BoltClient.struct(0x0F)); out.flush(); reply()
    }
    BoltClient.Result(records.result(), bytes, failure)
  }

  def close(): Unit = {
    try { send(BoltClient.struct(0x02)); out.flush() } catch { case _: Exception => }
    sock.close()
  }
}

object BoltClient {
  final case class Result(records: Vector[Seq[Any]], bytes: Long, failure: Option[String])

  def struct(sig: Int, fields: Any*): Array[Byte] = {
    val b = new ByteArrayOutputStream()
    b.write(0xB0 + fields.size); b.write(sig)
    fields.foreach(f => b.write(PackStream.encode(f)))
    b.toByteArray
  }
}
