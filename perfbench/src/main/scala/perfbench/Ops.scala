package perfbench

import java.util.concurrent.{Executors, TimeUnit, TimeoutException}

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One operation's outcome: a catalog query, a tick or a drain. */
final case class OpRecord(kind: String, name: String, pass: Int, timed: Boolean,
    wallS: Double, cpuS: Double, startMs: Double, error: Option[String],
    extra: Map[String, Any]) {
  def fields: Map[String, Any] = Map("kind" -> kind, "name" -> name, "pass" -> pass,
    "timed" -> timed, "wall_s" -> wallS, "cpu_s" -> cpuS, "start_ms" -> startMs,
    "error" -> error) ++ extra
}

/** CPU time of the whole JVM process: every thread, the JIT compilers and
  * the collector included, and none of the time the machine gave to other
  * guests or processes.
  */
object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def seconds(): Double = os.getProcessCpuTime / 1e9

  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean
  /** Time the JIT compiler threads have spent compiling so far. */
  def jitSeconds(): Double = jit.getTotalCompilationTime / 1e3
}

/** Runs operations one at a time (a closed loop with one client), each
  * under a finite timeout. An operation that throws or overruns is
  * recorded as failed with its error; its wall is kept in the record for
  * the trace but never enters a timing.
  */
final class Runner(spark: SparkSession, val trace: Trace, timeoutS: Int) {
  private var pool = Executors.newSingleThreadExecutor()
  val records = scala.collection.mutable.ArrayBuffer.empty[OpRecord]

  /** Run `body` as one operation under a root span; `after` runs untimed
    * once the operation has ended (success or not), gets the operation's
    * start time and may add fields.
    */
  def op(kind: String, name: String, pass: Int, timed: Boolean)(body: Int => Map[String, Any])(
      after: Double => Map[String, Any] = _ => Map.empty): OpRecord = {
    val startMs = Clock.ms()
    val cpu0 = Cpu.seconds()
    val jit0 = Cpu.jitSeconds()
    var extra = Map.empty[String, Any]
    val (error, wall) = trace.span(kind, 0, Map("op" -> name, "pass" -> pass,
        "timed" -> timed)) { root =>
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val f = Future(body(root))
      try { extra = Await.result(f, timeoutS.seconds); None }
      catch {
        case _: TimeoutException =>
          spark.sparkContext.cancelAllJobs()
          // the stuck thread is abandoned with its pool; the next
          // operation gets a fresh one
          pool.shutdownNow()
          pool.awaitTermination(10, TimeUnit.SECONDS)
          pool = Executors.newSingleThreadExecutor()
          Some(s"timeout after ${timeoutS}s")
        case NonFatal(e) => Some(describe(e))
      }
    }
    val cpu = Cpu.seconds() - cpu0
    val jit = Cpu.jitSeconds() - jit0
    val post = try after(startMs) catch { case NonFatal(e) => Map("after_error" -> describe(e)) }
    val r = OpRecord(kind, name, pass, timed, wall, cpu, startMs, error,
      extra ++ post + ("jit_s" -> jit))
    records += r
    error.foreach(e => System.err.println(s"[perfbench] FAILED $kind $name (pass $pass): $e"))
    r
  }

  def shutdown(): Unit = pool.shutdownNow()

  private def describe(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}" +
      (if (root ne e) s" (cause ${root.getClass.getName}: ${String.valueOf(root.getMessage).take(200)})" else "")
  }
}

object Leaks {
  /** Persisted RDDs and cached plans alive right now, and the bytes they hold. */
  def measure(spark: SparkSession): Map[String, Any] = {
    val sc = spark.sparkContext
    val bytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    Map("cached_rdds" -> sc.getPersistentRDDs.size,
      "cached_plans" -> org.apache.spark.sql.perfbenchshim.CachedPlans.count(spark),
      "cached_bytes" -> bytes)
  }

  /** Drop every cached plan and persisted RDD, so the next operation starts clean. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

/** Bytes on disk. */
object Disk {
  private def files(root: java.nio.file.Path): Seq[java.nio.file.Path] =
    if (!java.nio.file.Files.exists(root)) Nil
    else {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).toList
      finally s.close()
    }

  def size(root: java.nio.file.Path): Long = files(root).map(java.nio.file.Files.size).sum

  /** Bytes of the files under `root` last modified at or after `sinceMs`. */
  def writtenSince(root: java.nio.file.Path, sinceMs: Double): Long =
    files(root).filter(p => mtimeMs(p) >= sinceMs - 1.0).map(java.nio.file.Files.size).sum

  def mtimeMs(p: java.nio.file.Path): Double =
    java.nio.file.Files.getLastModifiedTime(p).to(TimeUnit.MICROSECONDS) / 1000.0

  /** Copy a file or directory tree (outputs are snapshotted for the checks). */
  def copy(src: java.nio.file.Path, dst: java.nio.file.Path): Unit =
    if (java.nio.file.Files.isDirectory(src)) {
      val s = java.nio.file.Files.walk(src)
      try s.iterator().asScala.foreach { p =>
        val t = dst.resolve(src.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } finally s.close()
    } else if (java.nio.file.Files.exists(src)) {
      java.nio.file.Files.createDirectories(dst.getParent)
      java.nio.file.Files.copy(src, dst, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
}
