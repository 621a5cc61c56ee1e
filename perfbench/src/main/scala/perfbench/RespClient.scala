package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import graft.server.Resp
import graft.server.Resp._

/** One client connection to the store's RESP socket. */
final class RespClient(port: Int) {
  val sock = new java.net.Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val out = new java.io.BufferedOutputStream(sock.getOutputStream)
  private val in = new java.io.BufferedInputStream(sock.getInputStream)

  def send(args: Seq[Array[Byte]]): Unit = {
    Resp.encode(ArrayF(args.map(Blob(_))), out)
    out.flush()
  }
  def call(args: Seq[Array[Byte]]): Frame = { send(args); Resp.decode(in) }
  def callText(args: String*): Frame = call(args.map(_.getBytes(UTF_8)))
  def readFrame(): Frame = Resp.decode(in)
  def close(): Unit = try sock.close() catch { case _: Exception => () }
}

/** Readers for the reply frames the benchmark checks. */
object Reply {
  def fields(f: Frame): Map[String, Frame] = f match {
    case MapF(es) => es.map { case (k, v) => text(k) -> v }.toMap
    case other => sys.error(s"expected a map reply, got $other")
  }
  def text(f: Frame): String = f match {
    case b: Blob => b.utf8
    case SimpleStr(s) => s
    case other => sys.error(s"expected a string, got $other")
  }
  def bytes(f: Frame): Array[Byte] = f match {
    case Blob(b) => b
    case other => sys.error(s"expected a blob, got $other")
  }
  def num(f: Frame): Long = f match {
    case Num(v) => v
    case other => sys.error(s"expected a number, got $other")
  }
  def optNum(f: Frame): Option[Long] = f match {
    case NullF => None
    case other => Some(num(other))
  }
  def isError(f: Frame): Boolean = f.isInstanceOf[SimpleErr]
}
