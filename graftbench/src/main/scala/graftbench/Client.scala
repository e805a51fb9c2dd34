package graftbench

import java.io.{BufferedInputStream, ByteArrayOutputStream, OutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.{BigIntVector, Float8Vector}
import org.apache.arrow.vector.ipc.ArrowStreamReader

/** One client connection to the catalog daemon's line protocol. Lines and
  * the binary GETB stream share one buffered input, so no bytes of the
  * Arrow stream are lost to a line reader's read-ahead.
  */
final class Client(port: Int) extends AutoCloseable {
  private val sock = new Socket("127.0.0.1", port)
  private val in = new BufferedInputStream(sock.getInputStream)
  private val out: OutputStream = sock.getOutputStream

  def send(cmd: String): Unit = {
    out.write((cmd + "\n").getBytes(UTF_8)); out.flush()
  }

  def readLine(): String = {
    val buf = new ByteArrayOutputStream()
    var b = in.read()
    while (b != -1 && b != '\n') { buf.write(b); b = in.read() }
    if (b == -1 && buf.size() == 0)
      throw new IllegalStateException("daemon closed the connection")
    buf.toString(UTF_8)
  }

  /** Send one command and return its single-line reply, failing on ERR. */
  def request(cmd: String): String = {
    send(cmd)
    val reply = readLine()
    if (!reply.startsWith("OK")) throw new IllegalStateException(
      s"'$cmd' -> $reply")
    reply
  }

  /** GETB a property as (id, value) pairs written into `values` by id.
    * Returns (rows decoded, rows announced by the DONE trailer).
    */
  def getb(graph: String, prop: String, values: Array[Double])
      : (Long, Long) = {
    send(s"GETB $graph $prop")
    val head = readLine()
    if (head != "OK arrow") throw new IllegalStateException(
      s"GETB $graph $prop -> $head")
    val alloc = new RootAllocator()
    val reader = new ArrowStreamReader(in, alloc)
    var rows = 0L
    try {
      val root = reader.getVectorSchemaRoot
      while (reader.loadNextBatch()) {
        val ids = root.getVector(0).asInstanceOf[BigIntVector]
        val v = root.getVector(1)
        var i = 0
        while (i < root.getRowCount) {
          val id = ids.get(i).toInt
          values(id) = v match {
            case d: Float8Vector => d.get(i)
            case l: BigIntVector => l.get(i).toDouble
            case other => throw new IllegalStateException(
              s"unexpected column type ${other.getField}")
          }
          i += 1
        }
        rows += root.getRowCount
      }
    } finally {
      reader.close(false)
      alloc.close()
    }
    val done = readLine()
    if (!done.startsWith("DONE ")) throw new IllegalStateException(
      s"GETB $graph $prop trailer: $done")
    (rows, done.stripPrefix("DONE ").trim.toLong)
  }

  override def close(): Unit = {
    try { send("QUIT"); readLine() } catch { case _: Exception => () }
    sock.close()
  }
}

object Client {
  /** Integer field of a daemon JSON reply, e.g. `"compute_millis":1234`. */
  def field(reply: String, name: String): Long = {
    val m = ("\"" + name + "\":(-?[0-9]+)").r.findFirstMatchIn(reply)
    m.map(_.group(1).toLong).getOrElse(throw new IllegalStateException(
      s"no $name in reply: $reply"))
  }
}
