package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.etl.LoanSchema
import graft.streaming.StreamingEtl

/** The catalog workloads: every named query once per pass, in the given
  * order. A query is constructed (`SparkEntry.queries(name)(spark, dir)`)
  * and then consumed by collecting its rows to the driver, as a client
  * would. After the operation, untimed, the rows are written as parquet
  * for the checks, and what the query left cached is counted and released.
  * One untimed warm-up pass comes first; timed passes follow until at
  * least `Main.MinPasses` have run and `seconds` have gone by.
  */
object Catalog {
  val WarmupPasses = 1

  def run(spark: SparkSession, runner: Runner, dataDir: String, out: Path,
      names: Seq[String], seconds: Double, onFirstTimed: () => Unit): Unit = {
    val trace = runner.trace
    val queries = graft.SparkEntry.queries
    def pass(p: Int, timed: Boolean): Unit = names.foreach { q =>
      var rows: Array[org.apache.spark.sql.Row] = null
      var schema: org.apache.spark.sql.types.StructType = null
      runner.op("query", q, p, timed) { root =>
        val (df, _) = trace.span("construct", root)(_ => queries(q)(spark, dataDir))
        trace.span("execute", root) { _ => rows = df.collect(); schema = df.schema }
        Map.empty
      } { _ =>
        // what the query left behind once its result was consumed
        val left = if (trace.enabled) Leaks.measure(spark) else Map.empty[String, Any]
        Leaks.release(spark)
        if (rows == null) left
        else {
          val dst = out.resolve(s"p$p").resolve(q).toString
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
            .write.mode("overwrite").parquet(dst)
          left + ("result" -> dst)
        }
      }
    }
    (0 until WarmupPasses).foreach(pass(_, timed = false))
    onFirstTimed()
    val t0 = Clock.ms()
    var p = WarmupPasses
    while (p < WarmupPasses + Main.MinPasses || Clock.ms() - t0 < seconds * 1000) {
      pass(p, timed = true)
      p += 1
    }
  }
}

/** The loan workloads, on the same arrivals. `arrivals` holds one
  * directory per step, in name order: `*-history` steps land the history
  * (untimed set-up, which also warms the operation), then each `*-batch`
  * step is timed. In a step, the files arrive in the incoming dir, then
  * either one `Dag.run` tick ingests them (`loan_ingest`), or one
  * streaming drain (`StreamingEtl.csvFileStream` +
  * `runWithIncrementalReport`) folds them into the running aggregates its
  * checkpoint carries (`loan_stream`). Rounds repeat in fresh directories
  * until at least `Main.MinPasses` have run and `seconds` have gone by.
  * After each operation, untimed, its outputs are snapshotted for the
  * checks and the bytes it wrote are counted.
  */
object Loan {
  private def list(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq.sortBy(_.getFileName.toString)
    finally s.close()
  }

  def run(spark: SparkSession, runner: Runner, arrivals: Path, work: Path,
      ticks: Boolean, seconds: Double, onFirstTimed: () => Unit): Unit = {
    val trace = runner.trace
    val steps = list(arrivals)
    var t0 = 0.0

    def round(r: Int): Unit = {
      val base = work.resolve(s"r$r")
      val incoming = base.resolve("incoming")
      val dag = base.resolve("dag")
      val stream = base.resolve("stream")
      val snap = base.resolve("snap")
      Files.createDirectories(incoming)
      val agg = stream.resolve("aggregates").toString
      val reports = stream.resolve("reports").toString
      val ckpt = stream.resolve("checkpoint").toString

      def tick(name: String, timed: Boolean): Unit =
        runner.op("tick", name, r, timed) { _ =>
          val res = graft.Dag.run(spark, incoming.toString, dag.toString, minAgeSeconds = 0L)
          Map("processed" -> res.batch.processed.map(_.filename),
            "arrived_bytes" -> res.batch.processed.map(_.originalSize).sum,
            "etl_rows" -> res.etl.map(_.rowCount).getOrElse(-1L),
            "report" -> res.reportPath.isDefined)
        } { start =>
          // bytes on disk: what the tick wrote, and when ingest and the
          // report finished (the ledger is ingest's last write)
          def since(sub: String) = Disk.writtenSince(dag.resolve(sub), start)
          def mtime(f: String) = {
            val p = dag.resolve(f)
            if (Files.exists(p)) Disk.mtimeMs(p) else -1.0
          }
          val s = snap.resolve(s"tick-$name")
          val facts = Map[String, Any](
            "written_bytes" -> Disk.writtenSince(dag, start),
            "ingest_bytes" -> (since("raw") + since("compressed") + since("ledger.json")),
            "etl_bytes" -> since("output"),
            "ledger_mtime_ms" -> mtime("ledger.json"),
            "report_mtime_ms" -> mtime("report.html"),
            "snapshot" -> s.toString)
          Disk.copy(dag.resolve("output").resolve("aggregates"), s.resolve("aggregates"))
          Disk.copy(dag.resolve("report.html"), s.resolve("report.html"))
          Disk.copy(dag.resolve("ledger.json"), s.resolve("ledger.json"))
          facts
        }

      def drain(name: String, timed: Boolean): Unit =
        runner.op("drain", name, r, timed) { _ =>
          val df = StreamingEtl.csvFileStream(spark, incoming.toString, LoanSchema.canonical)
          StreamingEtl.runWithIncrementalReport(df, agg, reports, ckpt)
          Map.empty
        } { start =>
          val s = snap.resolve(s"drain-$name")
          val written = Disk.writtenSince(stream, start)
          Disk.copy(stream.resolve("aggregates"), s.resolve("aggregates"))
          Map("written_bytes" -> written, "snapshot" -> s.toString)
        }

      steps.foreach { step =>
        val name = step.getFileName.toString
        val timed = name.endsWith("-batch")
        if (timed && r == 1 && t0 == 0.0) { onFirstTimed(); t0 = Clock.ms() }
        list(step).foreach(f => Files.copy(f, incoming.resolve(f.getFileName.toString),
          StandardCopyOption.REPLACE_EXISTING))
        if (ticks) tick(name, timed) else drain(name, timed)
      }
      trace.note(0, "round_end", Map("pass" -> r,
        "dag_bytes" -> Disk.size(dag), "stream_bytes" -> Disk.size(stream)))
    }
    var r = 1
    while (r <= Main.MinPasses || Clock.ms() - t0 < seconds * 1000) { round(r); r += 1 }
  }
}
