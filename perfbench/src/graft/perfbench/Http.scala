package graft.perfbench

import java.io.{BufferedInputStream, ByteArrayOutputStream}
import java.net.{InetAddress, InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}

/** One keep-alive HTTP/1.1 connection to the service on loopback.
  *
  * Each request goes out as ONE write (head and body in one buffer) on a
  * TCP_NODELAY socket: a client that writes head and body separately
  * without TCP_NODELAY can hold its body back for the peer's delayed ACK
  * (Nagle), a stall of tens of ms that the load generator must not add. */
final class Conn(port: Int) extends AutoCloseable {
  private val sock = new Socket()
  sock.setTcpNoDelay(true)
  sock.setKeepAlive(true)
  sock.connect(new InetSocketAddress(InetAddress.getLoopbackAddress, port))
  private val in = new BufferedInputStream(sock.getInputStream, 1 << 16)
  private val out = sock.getOutputStream

  /** (status, body) of one request. */
  def call(method: String, path: String, body: String = ""): (Int, String) = {
    val b = body.getBytes(UTF_8)
    val head = (s"$method $path HTTP/1.1\r\nHost: localhost\r\n" +
      s"Content-Length: ${b.length}\r\n\r\n").getBytes(US_ASCII)
    val msg = java.util.Arrays.copyOf(head, head.length + b.length)
    System.arraycopy(b, 0, msg, head.length, b.length)
    out.write(msg)
    out.flush()
    val status = line().split(" ")(1).toInt
    var length = -1
    var chunked = false
    var h = line()
    while (h.nonEmpty) {
      val l = h.toLowerCase(java.util.Locale.ROOT)
      if (l.startsWith("content-length:")) length = l.drop(15).trim.toInt
      if (l.startsWith("transfer-encoding:") && l.contains("chunked")) chunked = true
      h = line()
    }
    val bytes =
      if (chunked) {
        val acc = new ByteArrayOutputStream()
        var n = Integer.parseInt(line().trim, 16)
        while (n > 0) {
          acc.write(read(n))
          line()
          n = Integer.parseInt(line().trim, 16)
        }
        line()
        acc.toByteArray
      } else if (length >= 0) read(length)
      else throw new IllegalStateException("response without length")
    (status, new String(bytes, UTF_8))
  }

  private def line(): String = {
    val acc = new ByteArrayOutputStream()
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new java.io.EOFException("connection closed")
      if (c != '\r') acc.write(c)
      c = in.read()
    }
    new String(acc.toByteArray, US_ASCII)
  }

  private def read(n: Int): Array[Byte] = {
    val buf = in.readNBytes(n)
    if (buf.length < n) throw new java.io.EOFException("short body")
    buf
  }

  def close(): Unit = sock.close()
}

object Clients {
  /** Run `body(i)` on `n` threads and wait for all; rethrows the first
    * failure. */
  def parallel(n: Int)(body: Int => Unit): Unit = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until n).map { i =>
      val t = new Thread(() => try body(i) catch { case e: Throwable => errors.add(e) })
      t.setName(s"perfbench-client-$i")
      t.start()
      t
    }
    threads.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }
}
