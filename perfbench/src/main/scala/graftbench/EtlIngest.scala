package graftbench

import java.io.File
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import graft.pipeline.{Importer, JobRunner, Step, Template, Templates}
import graft.sources.CsvSource
import graft.util.AuditLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** CSV import into one template (the uploader) while a dashboard reads
  * everything imported so far (the reader): two closed-loop clients on
  * one session.
  */
object EtlIngest extends Workload {
  val name = "etl_ingest"
  val clients = 2

  val Schema: StructType = StructType.fromDDL(
    "order_id LONG, cust_id LONG, sku STRING, qty INT, amt STRING, status STRING, note STRING")
  val Header = "order_id,cust_id,sku,qty,amt,status,note"
  val DriftHeader = "ORDER_ID,customer,sku_code,quantity,amount,status,comment"
  val Regions: IndexedSeq[String] = IndexedSeq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Nations = 25
  val Customers = 2000
  val CsvFiles = 120
  val SizeCycle: IndexedSeq[Int] = IndexedSeq(400, 500, 600, 700, 6000)
  /** About how long one cycle of imports (and its dashboards) takes on a
    * 4-core host: a run imports ceil(seconds / CycleSeconds) cycles, a
    * number fixed by --seconds alone, so every run does the same work.
    */
  val CycleSeconds = 2.5

  val OrdersTemplate: Template = Template("orders", "orders import", Seq(
    Step.Rename("amt", "amount"),
    Step.Trim("sku"), Step.Trim("status"), Step.Upper("status"),
    Step.NullDefault("qty", "1"),
    Step.Cast("amount", "decimal(12,2)"),
    Step.Derive("total", "amount * qty"),
    Step.Filter("status <> 'CANCELLED'"),
    Step.Constraint("qty_positive", "qty > 0"),
    Step.Constraint("amount_nonneg", "amount >= 0"),
    Step.Select(Seq("order_id", "cust_id", "sku", "qty", "amount", "total", "status"))))

  /** Closed-form expectations of one generated file. */
  final case class FileExp(k: Int, bytes: Long, total: Long, bad: Long, kept: Long,
                           qtyViol: Long, amtViol: Long, drift: Boolean,
                           regionRows: Array[Long], regionCents: Array[Long], regionQty: Array[Long]) {
    def line: String = (Seq(k, bytes, total, bad, kept, qtyViol, amtViol, if (drift) 1 else 0) ++
      regionRows ++ regionCents ++ regionQty).mkString(",")
  }
  object FileExp {
    def parse(l: String): FileExp = {
      val a = l.split(",").map(_.toLong); val r = Regions.length
      FileExp(a(0).toInt, a(1), a(2), a(3), a(4), a(5), a(6), a(7) == 1,
        a.slice(8, 8 + r), a.slice(8 + r, 8 + 2 * r), a.slice(8 + 2 * r, 8 + 3 * r))
    }
  }

  def generate(dir: File, seed: Long, warm: Boolean): Map[String, Any] = {
    val g = new Gen(seed)
    val nationRegion = Array.tabulate(Nations)(n => n % Regions.length)
    val custNation = Array.tabulate(Customers + 1)(_ => g.int(Nations))
    Files.write(new File(dir, "dims/regions.csv"),
      Regions.indices.map(r => s"$r,${Regions(r)}").mkString("\n") + "\n")
    Files.write(new File(dir, "dims/nations.csv"),
      (0 until Nations).map(n => s"$n,NATION$n,${nationRegion(n)}").mkString("\n") + "\n")
    Files.write(new File(dir, "dims/customers.csv"),
      (1 to Customers).map(c => s"$c,${custNation(c)}").mkString("\n") + "\n")
    val nFiles = if (warm) SizeCycle.length else CsvFiles
    val statuses = IndexedSeq("open", "SHIPPED", " shipped", "cancelled", "OPEN ", "returned")
    val exps = (0 until nFiles).map { k =>
      // skew: every fifth file is large, the rest small; sizes do not
      // depend on the seed, so every run imports the same volume
      val rows = if (warm) 200 else SizeCycle(k % SizeCycle.length)
      val drift = !warm && k % 6 == 5
      val sb = new StringBuilder((if (drift) DriftHeader else Header) + "\n")
      var bad, kept, qv, av = 0L
      val rRows = new Array[Long](Regions.length); val rCents = new Array[Long](Regions.length)
      val rQty = new Array[Long](Regions.length)
      for (i <- 0 until rows) {
        val id = k * 1000000L + i
        val cust = 1 + g.int(Customers)
        val sku = s"SKU-${g.int(500)}"
        val skuCell = if (g.chance(0.2)) s"  $sku " else sku
        val qtyRaw = if (g.chance(0.05)) None else Some(if (g.chance(0.03)) 0 else g.between(1, 9))
        val cents = (if (g.chance(0.03)) -1 else 1) * g.between(100, 99999).toLong
        val amt = f"${if (cents < 0) "-" else ""}${math.abs(cents) / 100}.${math.abs(cents) % 100}%02d"
        val status = statuses(g.int(statuses.length))
        val note = g.sentence(3)
        g.int(50) match {
          case 0 => // malformed: uncastable quantity
            bad += 1; sb.append(s"$id,$cust,$skuCell,x${g.int(9)},$amt,$status,$note\n")
          case 1 => // malformed: a field missing
            bad += 1; sb.append(s"$id,$cust,$skuCell,$amt,$status\n")
          case _ =>
            sb.append(s"$id,$cust,$skuCell,${qtyRaw.map(_.toString).getOrElse("")},$amt,$status,$note\n")
            val qty = qtyRaw.getOrElse(1)
            if (status.trim.toUpperCase != "CANCELLED") {
              kept += 1
              if (qty <= 0) qv += 1
              if (cents < 0) av += 1
              val r = nationRegion(custNation(cust))
              rRows(r) += 1; rCents(r) += cents * qty; rQty(r) += qty
            }
        }
      }
      val f = new File(dir, f"files/part-$k%04d.csv")
      Files.write(f, sb.toString)
      FileExp(k, f.length, rows, bad, kept, qv, av, drift, rRows, rCents, rQty)
    }
    Files.write(new File(dir, "expected.csv"), exps.map(_.line).mkString("\n") + "\n")
    Map("files" -> nFiles, "rows" -> exps.map(_.total).sum, "malformed_rows" -> exps.map(_.bad).sum,
      "drifted_files" -> exps.count(_.drift), "large_files" -> exps.count(_.total == SizeCycle.max),
      "bytes" -> exps.map(_.bytes).sum)
  }

  /** Read the dimension CSVs, cache them and register them as views. */
  private def registerDims(spark: SparkSession, inputs: File, prefix: String): Unit = {
    def dim(n: String, ddl: String): Unit = {
      val df = spark.read.schema(ddl).csv(new File(inputs, s"dims/$n.csv").getPath).cache()
      df.count(); df.createOrReplaceTempView(s"${prefix}_$n")
    }
    dim("regions", "r_id INT, r_name STRING")
    dim("nations", "n_id INT, n_name STRING, n_region INT")
    dim("customers", "c_id LONG, c_nation INT")
  }

  /** Warm-up: one cycle of imports and the dashboard on the small set; then the
    * timed seed's dimensions are registered.
    */
  def setup(ctx: Ctx, inputs: File, warmInputs: File, dir: File, rec: Recorder): Pass = {
    val spark = ctx.spark
    registerDims(spark, warmInputs, "warm")
    new EtlPass(spark, warmInputs, new File(dir, "warm"), "warm").run(rec, SizeCycle.length)
    registerDims(spark, inputs, "dims")
    new EtlPass(spark, inputs, new File(dir, "state"), "dims")
  }

  final class EtlPass(spark: SparkSession, inputs: File, dir: File, dims: String) extends Pass {
    Files.requireEmpty(dir)
    private val exps = Files.read(new File(inputs, "expected.csv")).linesIterator
      .filter(_.nonEmpty).map(FileExp.parse).toIndexedSeq
    val inputBytes: Long = exps.map(_.bytes).sum
    private val templates = new Templates
    templates.register(OrdersTemplate)
    private val auditDir = new File(dir, "audit")
    private val importer = new Importer(spark, templates, new AuditLog(auditDir.getPath))
    private val factsDir = new File(dir, "facts")
    // batches whose import finished, in import order; the reader only sees these
    @volatile private var committed = Vector.empty[FileExp]
    private var next = 0

    private def batchPath(k: Int) = new File(factsDir, f"b$k%04d/data").getPath

    def writes(seconds: Double): Int = SizeCycle.length * math.max(1, math.ceil(seconds / CycleSeconds).toInt)

    def run(rec: Recorder, writes: Int): Unit = {
      if (next + writes > exps.length) {
        rec.fail(s"$writes imports asked, ${exps.length - next} generated files left"); return
      }
      val store0 = storeCounts()
      // after each import the uploader hands the reader the batches
      // committed so far; the reader runs one dashboard over each, so a
      // run makes as many reads as writes, each over a fixed prefix
      val handoff = new LinkedBlockingQueue[Vector[FileExp]]()
      val reader = new Thread(() => {
        Trace.span("client.reader", "bench") {
          var i = 0
          while (i < writes) {
            Option(handoff.poll(120, TimeUnit.SECONDS)) match {
              case Some(seen) => rec.op("read", 0L)(seen.nonEmpty && dashboard(rec, seen)); i += 1
              case None => rec.fail("the uploader stopped handing over batches"); i = writes
            }
          }
        }
      }, "graftbench-reader")
      reader.start()
      try Trace.span("client.uploader", "bench") {
        for (_ <- 0 until writes) {
          val e = exps(next); next += 1
          try rec.op("write", e.bytes)(upload(rec, e)) finally handoff.put(committed)
        }
      } finally reader.join()
      storeCounts().foreach { case (k, v) => rec.add(k, v - store0(k)) }
    }

    /** Bytes and data files under the facts dir, audit events and
      * import-write retries so far; a pass records its own share.
      */
    private def storeCounts(): Map[String, Double] = {
      val histories = Option(auditDir.listFiles()).toSeq.flatten
        .map(f => f.getName -> Files.read(f).linesIterator.toSeq)
      Map("store.bytes" -> Files.bytesUnder(factsDir).toDouble,
        "store.files" -> Files.dataFiles(factsDir).size.toDouble,
        "audit.events" -> histories.map(_._2.size).sum.toDouble,
        "audit.retries" -> histories.filter(_._1.startsWith("error")).flatMap(_._2)
          .count(_.contains("import-write")).toDouble)
    }

    private def upload(rec: Recorder, e: FileExp): Boolean = {
      val csv = new File(inputs, f"files/part-${e.k}%04d.csv").getPath
      val (extra, missing) = rec.call("sources.drift", "sources") {
        CsvSource.drift(spark, csv, Schema)
      }
      val h = rec.call("pipeline.importCsv", "pipeline") {
        importer.importCsv(csv, Schema, OrdersTemplate.id, batchPath(e.k))
      }
      // the load runs on JobRunner's thread: its job group names this op
      Trace.bindGroup(h.jobId)
      val st = rec.call("pipeline.await", "pipeline") { importer.await(h.jobId) }
      rec.add("csv.bytes", e.bytes.toDouble); rec.add("csv.rows", h.report.totalRows.toDouble)
      rec.add("csv.bad", h.report.badRows.toDouble)
      val ok = rec.check(st == JobRunner.Succeeded, s"import ${e.k} ended $st") &&
        rec.check(h.report.totalRows == e.total && h.report.badRows == e.bad,
          s"import ${e.k}: rows ${h.report.totalRows}/${h.report.badRows}, expected ${e.total}/${e.bad}") &&
        rec.check(h.constraintViolations == Map("qty_positive" -> e.qtyViol, "amount_nonneg" -> e.amtViol),
          s"import ${e.k}: violations ${h.constraintViolations}, expected ${e.qtyViol}/${e.amtViol}") &&
        rec.check((extra.nonEmpty || missing.nonEmpty) == e.drift, s"import ${e.k}: drift $extra/$missing")
      if (ok) committed = committed :+ e
      ok
    }

    private def facts(paths: Seq[String]): DataFrame =
      spark.read.schema("order_id LONG, cust_id LONG, sku STRING, qty INT, amount DECIMAL(12,2), " +
        "total DECIMAL(23,2), status STRING").parquet(paths: _*)

    private def dashboard(rec: Recorder, seen: Vector[FileExp]): Boolean = {
      val rows = rec.call("pipeline.dashboard", "pipeline") {
        facts(seen.map(e => batchPath(e.k)))
          .join(spark.table(s"${dims}_customers"), col("cust_id") === col("c_id"))
          .join(spark.table(s"${dims}_nations"), col("c_nation") === col("n_id"))
          .join(spark.table(s"${dims}_regions"), col("n_region") === col("r_id"))
          .groupBy(col("r_id"))
          .agg(count(lit(1)).as("n"), sum(col("total")).as("t"), sum(col("qty")).as("q"))
          .collect()
      }
      val got = rows.map(r => r.getInt(0) -> (r.getLong(1),
        r.getDecimal(2).movePointRight(2).longValueExact, r.getLong(3))).toMap
      val want = Regions.indices.map { r =>
        r -> (seen.map(_.regionRows(r)).sum, seen.map(_.regionCents(r)).sum, seen.map(_.regionQty(r)).sum)
      }.filter(_._2._1 > 0).toMap
      rec.check(got == want, s"dashboard over ${seen.size} batches: $got, expected $want")
    }

    def verify(rec: Recorder): Unit = {
      val seen = committed
      if (seen.isEmpty) { rec.verifyCheck(false, "no import committed"); return }
      val byBatch = facts(seen.map(e => batchPath(e.k)))
        .groupBy(regexp_extract(input_file_name(), "/b([0-9]+)/data/", 1).cast("int"))
        .count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      rec.verifyCheck(byBatch == seen.filter(_.kept > 0).map(e => e.k -> e.kept).toMap,
        "written rows per batch differ from generated good rows")
      val withBad = seen.filter(_.bad > 0)
      val quarantined = spark.read.text(withBad.map(e => batchPath(e.k) + "_corrupt"): _*)
        .groupBy(regexp_extract(input_file_name(), "/b([0-9]+)/data_corrupt/", 1).cast("int"))
        .count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      rec.verifyCheck(quarantined == withBad.map(e => e.k -> e.bad).toMap,
        "quarantined rows per batch differ from injected malformed rows")
    }

    def layerMetrics(rec: Recorder): Map[String, Double] = {
      val csvBytes = rec.counter("csv.bytes")
      Map(
        "sources.csv_mb_s" -> csvBytes / 1e6 / (rec.samplesOf("pipeline.importCsv").sum / 1e3),
        "sources.csv_bad_share" -> rec.counter("csv.bad") / rec.counter("csv.rows").max(1),
        "pipeline.import_call_ms" -> rec.medianOf("pipeline.importCsv"),
        "pipeline.import_job_ms" -> rec.medianOf("pipeline.await"),
        "pipeline.dashboard_ms" -> rec.medianOf("pipeline.dashboard"),
        "pipeline.audit_events" -> rec.counter("audit.events"),
        "util.retries" -> rec.counter("audit.retries"),
        "store.bytes_per_input_byte" -> rec.counter("store.bytes") / csvBytes.max(1),
        "store.files_written" -> rec.counter("store.files"))
    }
  }
}
