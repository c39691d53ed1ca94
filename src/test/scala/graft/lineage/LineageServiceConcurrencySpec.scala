package graft.lineage

import java.io.{BufferedInputStream, DataInputStream, EOFException}
import java.net.Socket
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.util.concurrent.{CountDownLatch, ExecutorService, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.SparkTestBase

/** The service under concurrent load and at the transport level:
  * requests served in parallel must answer exactly what a direct
  * single-threaded parse answers, the run-id check-then-append must
  * stay atomic, the request pool must not hold its JVM open, and a
  * response must not wait out the client's delayed ACK. */
class LineageServiceConcurrencySpec extends SparkTestBase {

  /** One keep-alive HTTP/1.1 connection on a `TCP_NODELAY` socket.
    * Each request goes out as one write, so the client adds no Nagle
    * stall of its own: any delayed-ACK wait measured is the server's. */
  private final class Conn(port: Int) extends AutoCloseable {
    private val sock = new Socket("127.0.0.1", port)
    sock.setTcpNoDelay(true)
    private val in = new DataInputStream(
      new BufferedInputStream(sock.getInputStream))
    private val out = sock.getOutputStream

    /** (status, body) of one request. */
    def call(method: String, path: String, body: String = ""): (Int, String) = {
      val b = body.getBytes(UTF_8)
      out.write(s"$method $path HTTP/1.1\r\nHost: localhost\r\n".getBytes(US_ASCII) ++
        s"Content-Length: ${b.length}\r\n\r\n".getBytes(US_ASCII) ++ b)
      out.flush()
      val status = line().split(" ")(1).toInt
      val headers = Iterator.continually(line()).takeWhile(_.nonEmpty).toList
      val length = headers.map(_.split(":", 2))
        .collectFirst { case Array(k, v) if k.trim.equalsIgnoreCase("Content-Length") =>
          v.trim.toInt
        }.getOrElse(fail("response without Content-Length"))
      val buf = new Array[Byte](length)
      in.readFully(buf)
      (status, new String(buf, UTF_8))
    }

    private def line(): String = {
      val sb = new StringBuilder
      var c = in.read()
      while (c != '\n') {
        if (c < 0) throw new EOFException("connection closed")
        if (c != '\r') sb.append(c.toChar)
        c = in.read()
      }
      sb.toString
    }

    def close(): Unit = sock.close()
  }

  /** `body(i)` for i in 0 until n, each on its own thread, all released
    * at once; results in index order. */
  private def inParallel[T](n: Int)(body: Int => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(n)
    val go = new CountDownLatch(1)
    try {
      val futures = (0 until n).map(i => pool.submit(() => { go.await(); body(i) }))
      go.countDown()
      futures.map(_.get(120, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }

  test("parallel /fetch over keep-alive connections equals a direct parse, USE stays per-request") {
    LineageQueries.registerFixtures(spark, sfDir)
    // every fourth request is a USE script; the rest are corpus
    // statements whose bare names must keep resolving to `default`
    // while a USE script is parsed on another pool thread
    val scripts = Seq(
      "USE svc_a; SELECT r_name FROM region",
      "USE svc_b; SELECT n_name FROM nation WHERE n_regionkey = 1",
      "USE svc_a; SELECT c_name FROM customer; USE svc_b; SELECT s_name FROM supplier",
      "USE svc_b; SELECT o_orderkey FROM orders WHERE o_totalprice > 10.0")
    val corpus = LineageQueries.corpus.indices.by(3).take(12).map(LineageQueries.corpus)
    val requests = scripts.indices.flatMap(r => scripts(r) +: corpus.slice(3 * r, 3 * r + 3))
    assert(requests.size == 16)
    val expected = requests.map(sql =>
      LineageService.toJson(LineageParser.parse(spark, sql)))
    // the scripts must actually move names off `default`, or the check
    // below could not see a USE leaking across requests
    assert(expected.head.contains("svc_a.region"))

    val server = LineageService.start(spark)
    try {
      val port = server.getAddress.getPort
      // connection c sends requests c, c+4, c+8, c+12: each round puts
      // a USE script beside three plain statements
      val responses = inParallel(4) { c =>
        val conn = new Conn(port)
        try (c until requests.size by 4).map(i => i -> conn.call("POST", "/fetch", requests(i)))
        finally conn.close()
      }.flatten.sortBy(_._1).map(_._2)
      responses.zip(expected).zip(requests).foreach { case ((got, want), sql) =>
        assert(got == (200 -> want), sql)
      }
    } finally server.stop(0)
  }

  test("concurrent POST /runs/<id> of one id: one 200, three 409s, one parse's edges") {
    LineageQueries.registerFixtures(spark, sfDir)
    withTempDir("graft_svc_conc_store") { dir =>
      val server = LineageService.start(spark, store = Some(dir.toString))
      try {
        val port = server.getAddress.getPort
        val statuses = inParallel(4) { i =>
          val conn = new Conn(port)
          try conn.call("POST", "/runs/7",
            s"SELECT n_name FROM nation WHERE n_regionkey = $i")._1
          finally conn.close()
        }
        assert(statuses.sorted == Seq(200, 409, 409, 409), statuses)
        val winner = statuses.indexOf(200)
        val conn = new Conn(port)
        val (status, edges) = try conn.call("GET", "/runs/7") finally conn.close()
        assert(status == 200)
        // the winner's single edge, appended once
        assert(""""runId":7""".r.findAllMatchIn(edges).size == 1, edges)
        assert(edges.contains(s"n_regionkey = $winner"), edges)
      } finally server.stop(0)
    }
  }

  test("request pool: daemon graft-lineage-http threads, an ExecutorService, none left non-daemon") {
    def poolThreads = Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(_.getName.startsWith("graft-lineage-http-"))
    val server = LineageService.start(spark)
    try {
      val conn = new Conn(server.getAddress.getPort)
      try (1 to 3).foreach(_ => assert(conn.call("GET", "/health")._1 == 200))
      finally conn.close()
      assert(poolThreads.nonEmpty)
    } finally server.stop(0)
    assert(poolThreads.forall(_.isDaemon), poolThreads.map(_.getName))
    // callers that want the threads gone now shut the pool down through
    // the public accessor
    server.getExecutor match {
      case es: ExecutorService =>
        es.shutdown()
        assert(es.awaitTermination(30, TimeUnit.SECONDS))
      case other => fail(s"executor is not an ExecutorService: $other")
    }
  }

  test("transport floor: keep-alive GET /health does not wait for a delayed ACK") {
    val server = LineageService.start(spark)
    try {
      val conn = new Conn(server.getAddress.getPort)
      val ms = try (1 to 50).map { _ =>
        val t0 = System.nanoTime()
        assert(conn.call("GET", "/health")._1 == 200)
        (System.nanoTime() - t0) / 1e6
      } finally conn.close()
      // the delayed-ACK floor is >= 40 ms per response
      val median = ms.sorted.apply(ms.size / 2)
      assert(median < 20.0, s"median ${median} ms over ${ms.size} requests")
    } finally server.stop(0)
  }
}
