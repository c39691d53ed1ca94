package graft.perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ExecutorService, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.HttpServer
import graft.lineage.MetadataProvider

/** Counts and times every sink-schema lookup the parser makes; passed to
  * the service and the parser as their `metadata`. */
final class CountingMetadata(inner: MetadataProvider) extends MetadataProvider {
  val lookups = new AtomicLong
  val nanos = new AtomicLong

  def tableColumns(table: String): Seq[String] = {
    val t0 = System.nanoTime()
    try inner.tableColumns(table)
    finally {
      nanos.addAndGet(System.nanoTime() - t0)
      lookups.incrementAndGet()
    }
  }

  def reset(): Unit = { lookups.set(0); nanos.set(0) }
}

/** Helpers shared by lineage-fetch and its store phase. */
object Lineage {
  /** Input lines, one request or store run each. */
  def requests(path: String): IndexedSeq[String] =
    Files.readAllLines(Paths.get(path)).asScala.toIndexedSeq.filter(_.nonEmpty)

  /** `server.stop` leaves the service's request executor running, and it
    * is a non-daemon thread: a JVM that only stops the server never
    * exits. Shut the executor down through the public accessor and check
    * that it ended. */
  def stop(ctx: Ctx, server: HttpServer): Unit = {
    server.stop(0)
    val ended = server.getExecutor match {
      case es: ExecutorService =>
        es.shutdown()
        es.awaitTermination(30, TimeUnit.SECONDS)
      case _ => false
    }
    ctx.check("service_executor_stopped", ended)
  }
}
