package graftbench

import java.io.File

import graft.operators.{IvfIndex, NearDupIndex, Search}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Incremental maintenance of a near-dup index, a search postings index
  * and an IVF vector index over one growing corpus. One closed-loop
  * client: each round commits a seeded delta to all three (the write;
  * every second round it also forgets a few seeded victims everywhere,
  * compacts the stores and lets the IVF index retrain if drift calls
  * for it), then serves term queries, top-k vector queries and label
  * lookups (the reads).
  */
object IndexMaintain extends Workload {
  val name = "index_maintain"
  val clients = 1

  val Dim = 16
  val Clusters = 24
  val BaseDocs = 120
  val DeltaDocs = 60
  val NearPerDelta = 8
  val Rounds = 8
  /** Every this many rounds the write also forgets, compacts and retrains;
    * the warm-up round always does.
    */
  val HeavyEvery = 2
  val Victims = 4
  val SearchQueries = 6
  val QueryVectors = 8
  /** Top-k query reads per round; the vector queries split evenly over them. */
  val VectorReads = 2
  /** About how long one round (write and reads) takes on a 4-core host,
    * averaged over light and heavy rounds: a run makes
    * ceil(seconds / RoundSeconds) rounds, a number fixed by --seconds
    * alone, so every run does the same work.
    */
  val RoundSeconds = 10.0
  val SearchLimit = 20
  val RecallFloor = 0.8
  /** Share of planted near-dup pairs that must share a component, per
    * lookup (one delta's pairs) and over the whole run.
    */
  val PlantedRecallFloor = 0.5
  val PlantedRecallRunFloor = 0.9

  final case class Doc(id: Long, text: String, vec: Array[Float])

  /** One round's inputs. */
  final case class Round(docs: Seq[Doc], nearOf: Seq[(Long, Long)], victims: Seq[Long],
                         terms: Seq[Seq[String]], queries: Seq[Array[Float]])

  /** Input bytes of a doc: its text and its vector. */
  private def docBytes(d: Doc): Long = d.text.length + 4L * Dim + 8

  private def vecLine(v: Array[Float]) = v.map(x => f"$x%.5f").mkString(" ")
  private def docLine(d: Doc) = s"${d.id}\t${d.text}\t${vecLine(d.vec)}"
  private def parseDoc(l: String): Doc = {
    val Array(id, t, v) = l.split("\t", -1)
    Doc(id.toLong, t, v.split(" ").map(_.toFloat))
  }

  /** Generator state carried from the warm-up set into the timed set. */
  private final class Corpus(val all: mutable.ArrayBuffer[Doc], val forgotten: mutable.Set[Long],
                             val planted: mutable.Set[Long], var nextId: Long)

  /** The warm-up set is a base corpus plus one maintenance cycle; the
    * timed set continues that corpus with further rounds (the warm-up
    * state is the base the timed rounds maintain).
    */
  private def plan(seed: Long, warm: Boolean, prior: Option[Corpus]): (Seq[Doc], Seq[Round], Corpus) = {
    val g = new Gen(seed)
    val centers = Array.fill(Clusters)(Array.fill(Dim)(g.gaussian().toFloat * 4))
    def vec(): Array[Float] = { val c = centers(g.int(Clusters)); c.map(x => x + g.gaussian().toFloat) }
    // doc lengths step evenly through 40-90 words, so every delta (and
    // the base) carries the same number of words whatever the seed
    def doc(id: Long, j: Int, of: Int): Doc = Doc(id, g.sentence(40 + j * 50 / math.max(1, of - 1)), vec())
    val base = if (warm) (0 until BaseDocs).map(i => doc(i + 1L, i, BaseDocs)) else Nil
    val c = prior.getOrElse(new Corpus(mutable.ArrayBuffer.empty, mutable.Set.empty, mutable.Set.empty, 1L))
    c.all ++= base
    c.nextId = if (warm) BaseDocs + 1L else 1000001L
    val nRounds = if (warm) 1 else Rounds
    val rounds = (0 until nRounds).map { r =>
      val nearOf = (0 until NearPerDelta).map { _ =>
        // a near copy of a live, not yet paired doc: two words changed
        var src = c.all(g.int(c.all.size))
        while (c.forgotten(src.id) || c.planted(src.id)) src = c.all(g.int(c.all.size))
        val ws = src.text.split(" ")
        val pos = Set(g.int(ws.length), g.int(ws.length))
        val d = Doc(c.nextId, ws.indices.map(i => if (pos(i)) "x" + g.word() else ws(i)).mkString(" "),
          src.vec.map(x => x + 0.01f * g.gaussian().toFloat))
        c.nextId += 1; c.planted += src.id; c.planted += d.id
        d -> src.id
      }
      val nFresh = DeltaDocs - NearPerDelta
      val fresh = (0 until nFresh).map { j => val d = doc(c.nextId, j, nFresh); c.nextId += 1; d }
      val docs = g.shuffle((nearOf.map(_._1) ++ fresh).toIndexedSeq)
      c.all ++= docs
      val heavy = warm || r % HeavyEvery == HeavyEvery - 1
      val victims = if (!heavy) Nil
        else g.shuffle(c.all.filter(d => !c.planted(d.id) && !c.forgotten(d.id)).toIndexedSeq)
          .take(Victims).map(_.id)
      c.forgotten ++= victims
      val terms = (0 until SearchQueries).map { i =>
        val ws = c.all(g.int(c.all.size)).text.split(" ")
        if (i % 3 == 0) Seq(ws(g.int(ws.length))) else Seq(ws(g.int(ws.length)), ws(g.int(ws.length)))
      }
      val queries = (0 until QueryVectors).map(_ => vec())
      Round(docs, nearOf.map { case (d, s) => d.id -> s }, victims, terms, queries)
    }
    (base, rounds, c)
  }

  def generate(dir: File, seed: Long, warm: Boolean): Map[String, Any] = {
    val (base, rounds, c) =
      if (warm) plan(seed, warm = true, None)
      else plan(seed, warm = false, Some(plan(Main.warmSeed(seed), warm = true, None)._3))
    if (warm) Files.write(new File(dir, "base.tsv"), base.map(docLine).mkString("\n") + "\n")
    Files.write(new File(dir, "rounds.tsv"), rounds.zipWithIndex.flatMap { case (rd, r) =>
      rd.docs.map(d => s"D\t$r\t${docLine(d)}") ++
        rd.nearOf.map { case (a, b) => s"N\t$r\t$a\t$b" } ++
        rd.victims.map(v => s"V\t$r\t$v") ++
        rd.terms.map(t => s"T\t$r\t${t.mkString(" ")}") ++
        rd.queries.map(q => s"Q\t$r\t${vecLine(q)}")
    }.mkString("\n") + "\n")
    Files.write(new File(dir, "probe_docs.txt"), c.all.take(400).map(_.text).mkString("\n") + "\n")
    if (!warm) Probes.writePayloads(dir, new Gen(seed ^ 0x5eed))
    Map("base_docs" -> base.size, "rounds" -> rounds.size, "delta_docs" -> DeltaDocs,
      "delta_near_dups" -> NearPerDelta, "victims_per_heavy_round" -> Victims, "heavy_every" -> HeavyEvery,
      "query_vectors" -> QueryVectors, "dim" -> Dim, "clusters" -> Clusters)
  }

  private def load(inputs: File): (Seq[Doc], IndexedSeq[Round]) = {
    val baseFile = new File(inputs, "base.tsv")
    val base = if (!baseFile.exists) Nil
      else Files.read(baseFile).linesIterator.filter(_.nonEmpty).map(parseDoc).toSeq
    val lines = Files.read(new File(inputs, "rounds.tsv")).linesIterator.filter(_.nonEmpty)
      .map(_.split("\t", 3)).toSeq.groupBy(_(1).toInt)
    val rounds = lines.keys.toSeq.sorted.map { r =>
      val ls = lines(r)
      def of(kind: String) = ls.filter(_(0) == kind).map(_(2))
      Round(of("D").map(parseDoc),
        of("N").map { l => val Array(a, b) = l.split("\t"); a.toLong -> b.toLong },
        of("V").map(_.toLong), of("T").map(_.split(" ").toSeq),
        of("Q").map(_.split(" ").map(_.toFloat)))
    }.toIndexedSeq
    (base, rounds)
  }

  /** Warm-up: the base indexes over the warm-up corpus and one round on
    * them; the timed rounds then maintain that state.
    */
  def setup(ctx: Ctx, inputs: File, warmInputs: File, dir: File, rec: Recorder): Pass = {
    val pass = new IndexPass(ctx.spark, new File(dir, "index"))
    pass.feed(warmInputs).run(rec, 1)
    pass.feed(inputs)
  }

  final class IndexPass(spark: SparkSession, dir: File) extends Pass {
    import spark.implicits._
    Files.requireEmpty(dir)
    private val ndPath = new File(dir, "neardup").getPath
    private val ivfPath = new File(dir, "ivf").getPath
    private val table = s"graftbench_idx_${ProcessHandle.current().pid()}_${System.nanoTime()}"
    private val live = mutable.LinkedHashMap.empty[Long, Doc]
    private val forgotten = mutable.Set.empty[Long]
    private var rounds = IndexedSeq.empty[Round]
    private var next = 0
    private var inputs: File = _
    var inputBytes = 0L
    /** Input bytes of every doc committed so far, the base corpus included. */
    private var committedBytes = 0L

    private def docsDf(ds: Seq[Doc]): DataFrame = ds.map(d => (d.id, d.text)).toDF("doc_id", "text")
    private def vecsDf(ds: Seq[(Long, Array[Float])]): DataFrame =
      ds.map { case (i, v) => (i, v) }.toDF("vec_id", "embedding")

    /** Take the rounds of `in`; a set with a base corpus builds the indexes. */
    def feed(in: File): this.type = {
      val (base, rs) = load(in)
      if (base.nonEmpty) {
        dir.mkdirs()
        NearDupIndex.build(spark, ndPath, docsDf(base))
        Search.buildIndex(docsDf(base), table, 8)
        IvfIndex.build(spark, vecsDf(base.map(d => d.id -> d.vec)), ivfPath, k = 16)
        base.foreach(d => live(d.id) = d)
        committedBytes += base.map(docBytes).sum
      }
      inputs = in; rounds = rs; next = 0
      inputBytes = Files.list(in).map(_.length).sum
      this
    }

    def writes(seconds: Double): Int = math.max(1, math.ceil(seconds / RoundSeconds).toInt)

    def run(rec: Recorder, writes: Int): Unit = {
      if (next + writes > rounds.length) {
        rec.fail(s"$writes rounds asked, ${rounds.length - next} generated rounds left"); return
      }
      Trace.span("client.maintainer", "bench") {
        for (_ <- 0 until writes) {
          val r = next; next += 1
          val rd = rounds(r)
          val bytes = rd.docs.map(docBytes).sum
          if (rec.op("write", bytes)(commit(rec, r, rd))) {
            rd.terms.foreach(t => rec.op("read", 0L)(searchRead(rec, t)))
            rd.queries.grouped(QueryVectors / VectorReads).foreach(q => rec.op("read", 0L)(ivfRead(rec, q)))
            rec.op("read", 0L)(labelsRead(rec, rd.nearOf))
          }
        }
      }
    }

    private def commit(rec: Recorder, r: Int, rd: Round): Boolean = {
      val delta = docsDf(rd.docs)
      rec.call("operators.neardup_maintain", "operators") { NearDupIndex.maintain(spark, ndPath, delta) }
      rec.call("operators.search_maintain", "operators") {
        Search.maintainIndex(spark, table, delta, batchId = s"${inputs.getName}-round-$r")
      }
      rec.call("operators.ivf_append", "operators") {
        IvfIndex.append(spark, ivfPath, vecsDf(rd.docs.map(d => d.id -> d.vec)))
      }
      rd.docs.foreach(d => live(d.id) = d)
      committedBytes += rd.docs.map(docBytes).sum
      if (rd.victims.nonEmpty) {
        rec.call("operators.forget", "operators") {
          NearDupIndex.forget(spark, ndPath, rd.victims)
          Search.deleteDocs(spark, table, rd.victims)
          IvfIndex.deleteVectors(spark, ivfPath, rd.victims)
        }
        rd.victims.foreach { v => live.remove(v); forgotten += v }
        rec.call("operators.compact", "operators") {
          NearDupIndex.compactStores(spark, ndPath)
          Search.compactIndex(spark, table)
        }
        rec.call("operators.ivf_retrain", "operators") { IvfIndex.retrainIfNeeded(spark, ivfPath) }
      }
      true
    }

    private def searchRead(rec: Recorder, terms: Seq[String]): Boolean = {
      val got = rec.call("operators.search_query", "operators") {
        Search.rankedIndexed(spark, table, terms, live.size.toLong, 1000L, SearchLimit)
          .collect().map(_.getLong(0)).toSeq
      }
      val matching = live.values.filter { d =>
        val ws = d.text.split(" ").toSet; terms.forall(ws.contains)
      }.map(_.id).toSet
      rec.check(got.toSet.subsetOf(matching) && got.size == math.min(SearchLimit, matching.size) &&
        !got.exists(forgotten.contains),
        s"search ${terms.mkString(" ")}: ${got.size} hits, ${matching.size} live docs match")
    }

    private def ivfRead(rec: Recorder, queries: Seq[Array[Float]]): Boolean = {
      val qs = queries.zipWithIndex.map { case (v, i) => (-(i + 1).toLong, v) }
      val got = rec.call("operators.ivf_query", "operators") {
        IvfIndex.query(spark, ivfPath, vecsDf(qs), nprobe = 8, topk = 10).collect()
          .map(r => r.getLong(0) -> r.getLong(2)).groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSet }
      }
      // brute-force cosine top-10 over the live vectors
      def cos(a: Array[Float], b: Array[Float]) = {
        var d, na, nb = 0.0
        var i = 0
        while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
        d / math.sqrt(na * nb)
      }
      val vs = live.values.toIndexedSeq
      val hits = qs.map { case (q, v) =>
        val truth = vs.map(d => d.id -> cos(v, d.vec)).sortBy(x => (-x._2, x._1)).take(10).map(_._1).toSet
        (truth intersect got.getOrElse(q, Set.empty)).size
      }.sum
      val recall = hits.toDouble / (10 * qs.size)
      rec.sample("operators.ivf_recall", recall)
      rec.check(!got.values.flatten.exists(forgotten.contains), "ivf query returned a forgotten vector") &&
        rec.check(recall >= RecallFloor, f"ivf recall@10 $recall%.3f below $RecallFloor")
    }

    private def labelsRead(rec: Recorder, nearOf: Seq[(Long, Long)]): Boolean = {
      val ids = nearOf.flatMap { case (a, b) => Seq(a, b) } ++ forgotten
      val comp = rec.call("operators.labels_lookup", "operators") {
        NearDupIndex.labels(spark, ndPath).filter(col("doc_id").isin(ids: _*)).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      val found = nearOf.count { case (a, b) => comp.contains(a) && comp.get(a) == comp.get(b) }
      rec.add("planted.pairs", nearOf.size); rec.add("planted.found", found)
      rec.check(!comp.keys.exists(forgotten.contains), "labels still list a forgotten doc") &&
        rec.check(found >= PlantedRecallFloor * nearOf.size,
          s"only $found of ${nearOf.size} planted near-dup pairs share a component")
    }

    def verify(rec: Recorder): Unit = {
      val share = rec.counter("planted.found") / rec.counter("planted.pairs").max(1)
      rec.verifyCheck(share >= PlantedRecallRunFloor,
        f"planted near-dup pairs sharing a component: $share%.3f, below $PlantedRecallRunFloor")
    }

    def layerMetrics(rec: Recorder): Map[String, Double] = {
      val whDir = new File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), table)
      val stores = Seq(new File(ndPath), new File(ivfPath), whDir)
      Map(
        "operators.neardup_maintain_ms" -> rec.medianOf("operators.neardup_maintain"),
        "operators.search_maintain_ms" -> rec.medianOf("operators.search_maintain"),
        "operators.ivf_append_ms" -> rec.medianOf("operators.ivf_append"),
        "operators.ivf_retrain_ms" -> rec.medianOf("operators.ivf_retrain"),
        "operators.forget_ms" -> rec.medianOf("operators.forget"),
        "operators.compact_ms" -> rec.medianOf("operators.compact"),
        "operators.search_query_ms" -> rec.medianOf("operators.search_query"),
        "operators.ivf_query_ms" -> rec.medianOf("operators.ivf_query"),
        "operators.labels_lookup_ms" -> rec.medianOf("operators.labels_lookup"),
        "operators.ivf_recall_at_10" -> Stats.median(rec.samplesOf("operators.ivf_recall")),
        "operators.neardup_planted_recall" -> rec.counter("planted.found") / rec.counter("planted.pairs").max(1),
        "store.bytes_per_input_byte" -> stores.map(Files.bytesUnder).sum.toDouble / committedBytes,
        "store.files_written" -> stores.map(Files.dataFiles(_).size).sum.toDouble,
        "store.index_mb" -> stores.map(Files.bytesUnder).sum / 1e6,
        "store.index_files" -> stores.map(Files.list(_).size).sum.toDouble) ++
        Probes.functions(spark, new File(inputs, "probe_docs.txt")) ++ Probes.multimodal(inputs)
    }
  }
}
