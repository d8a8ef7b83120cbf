package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{SearchOps, VectorIndex}

/** `index_serve`: one closed-loop client against a warm persisted postings
  * index and a warm IVF-PQ index, both built in set-up from the seed-chosen
  * base half of the corpus. The client runs one fixed cycle of hybrid reads
  * (indexed BM25 plus the vector index, fused by reciprocal rank),
  * doc-batch appends to both indexes, and a fold and prune of both; the
  * seed picks the queries and the order documents arrive in. At the end an
  * untimed checkpoint read is compared with the same read built on the
  * in-memory BM25 over the live documents, and replaying the last append's
  * tag must be a no-op.
  */
object IndexServe {
  private val TopK = 10
  private val (m, k, nprobe, shortlist) = (8, 16, 3, 40)

  def run(r: Run): Outcome = {
    val spark = r.spark
    import spark.implicits._
    val g = new ServeGen(r.args.seed, r.args.tiny)
    r.log(s"index_serve inputs digest ${g.digest} (seed ${r.args.seed})")
    val t = r.tracer
    val work = s"${r.args.work}/serve"

    final class Roots(dir: String) {
      val corpus = s"$dir/corpus"
      val postings = s"$dir/postings"
      val vectors = s"$dir/vectors"
      var appended = 0 // batches of the corpus appended so far
      var modelVersion = -1
      var model: VectorIndex.Model = _
      /** The served vector model, re-read only when the served version moves. */
      def currentModel(): VectorIndex.Model = {
        val v = VectorIndex.currentVersion(vectors).getOrElse(sys.error(s"no vector index at $vectors"))
        if (v != modelVersion) {
          model = VectorIndex.readModel(spark, VectorIndex.versionDir(vectors, v), g.dim, m, k)
          modelVersion = v
        }
        model
      }
      def docs: DataFrame = spark.read.parquet(corpus)
      def live: DataFrame = docs.filter(col("batch") <= appended)
    }

    def prepare(dir: String): Roots = {
      val x = new Roots(dir)
      g.docs.map { case (id, text, e, c, b) => (id, text, e, c, b) }
        .toDF("doc_id", "text", "embedding", "cell", "batch")
        .write.mode("overwrite").parquet(x.corpus)
      val base = x.docs.filter(col("batch") === 0)
      SearchOps.buildPostingsIndex(base, "text", "doc_id", x.postings)
      VectorIndex.retrainAndSwap(base, "doc_id", "embedding", "cell", g.dim, m, k, x.vectors)
      x.currentModel()
      x
    }

    /** The hybrid read's vector leg as a (query_id, doc_id, rank) ranking. */
    def vectorLeg(x: Roots, q: DataFrame): DataFrame = {
      val dir = VectorIndex.versionDir(x.vectors, VectorIndex.currentVersion(x.vectors).get)
      VectorIndex.query(q, "doc_id", "embedding", x.currentModel(),
        VectorIndex.readCodesWithIngest(spark, dir), x.live, nprobe, shortlist, TopK)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    }

    def queryFrames(x: Roots, i: Int): (DataFrame, DataFrame) = {
      val liveIds = g.docs.filter(_._5 <= x.appended).map(_._1)
      val (id, terms) = g.query(i, liveIds)
      (terms.map(w => (id, w)).toDF("query_id", "term"),
        x.live.filter(col("doc_id") === id).select(col("doc_id"), col("embedding")))
    }

    def read(x: Roots, i: Int): Seq[Row] = {
      val (terms, vec) = queryFrames(x, i)
      val fused = t.span("io.index_open") {
        val bm25 = SearchOps.bm25TopKIndexed(spark, x.postings, terms, TopK)
          .select(col("query_id"), col("doc_id"), col("rank"))
        SearchOps.rrfFuse(Seq(bm25, vectorLeg(x, vec)), TopK)
      }
      t.span("operators.read_exec")(fused.orderBy("rank").collect().toSeq)
    }

    /** The same hybrid read with the in-memory BM25 over the live docs. */
    def reference(x: Roots, i: Int): Seq[Row] = {
      val (terms, vec) = queryFrames(x, i)
      val bm25 = SearchOps.bm25TopK(x.live, "text", "doc_id", terms, TopK)
        .select(col("query_id"), col("doc_id"), col("rank"))
      SearchOps.rrfFuse(Seq(bm25, vectorLeg(x, vec)), TopK).orderBy("rank").collect().toSeq
    }

    def append(x: Roots): (Option[Int], Boolean) = {
      val b = x.appended + 1
      val batch = x.docs.filter(col("batch") === b)
      val p = t.span("operators.append_postings") {
        SearchOps.appendPostingsIndex(batch, "text", "doc_id", x.postings, s"batch-$b")
      }
      val v = t.span("operators.append_vector") {
        val dir = VectorIndex.versionDir(x.vectors, VectorIndex.currentVersion(x.vectors).get)
        VectorIndex.appendBatch(batch, "doc_id", "embedding", x.currentModel(), dir, b.toLong)
      }
      x.appended = b
      (p, v)
    }

    def fold(x: Roots): Unit = {
      t.span("operators.fold") {
        SearchOps.foldPostingsIndex(spark, x.postings)
        VectorIndex.foldIngestAndSwap(spark, x.vectors, g.dim, m, k)
      }
      t.span("operators.prune") {
        SearchOps.prunePostingsVersions(spark, x.postings)
        VectorIndex.pruneVersions(x.vectors)
      }
    }

    var reads = 0
    def checkpoint(x: Roots, what: String): Unit = {
      val i = -1 - reads
      r.expect(s"checkpoint read $what") {
        val got = read(x, i)
        val want = reference(x, i)
        val same = got == want && got.nonEmpty
        if (!same) r.log(s"checkpoint $what: indexed $got vs in-memory $want")
        same != r.args.plantWrong
      }
      if (x.appended > 0) r.expect(s"replayed append tag $what") {
        val b = x.appended
        val batch = x.docs.filter(col("batch") === b)
        SearchOps.appendPostingsIndex(batch, "text", "doc_id", x.postings, s"batch-$b").isEmpty &&
          !VectorIndex.appendBatch(batch, "doc_id", "embedding", x.currentModel(),
            VectorIndex.versionDir(x.vectors, VectorIndex.currentVersion(x.vectors).get), b.toLong)
      }
    }

    val x = r.setUp(prepare(work))
    val storedBytes = Files.treeBytes(x.postings) + Files.treeBytes(x.vectors)
    r.heapSample()
    // a serving index is long-lived: warm the read path, untimed
    read(x, 0)
    // one whole cycle, so every run times the same mix of request kinds
    r.fixed(g.cycle) {
      case "read" =>
        reads += 1
        r.op("read")(read(x, reads))(rows => rows.nonEmpty && rows.size <= TopK &&
          rows.map(_.getAs[Long]("rank")) == (1L to rows.size.toLong))
      case "append" => r.op("append")(append(x)) { case (p, v) => p.isDefined && v }
      case "fold" => r.op("fold")(fold(x))(_ => true)
    }
    checkpoint(x, "at the end")
    val versions = Seq(x.postings, x.vectors).map(root =>
      graft.io.IndexMeta.listChildNames(s"$root/versions").count(_.matches("v\\d{4,}")))
    val segments = graft.io.StableJson.parse(graft.io.IndexMeta.readString(
        s"${SearchOps.postingsVersionDir(x.postings, SearchOps.postingsCurrentVersion(x.postings).get)}" +
          "/manifest.json").get).asInstanceOf[Map[String, Any]]("segments")
      .asInstanceOf[Seq[_]].size +
      graft.io.IndexMeta.listChildNames(s"${VectorIndex.versionDir(x.vectors,
        VectorIndex.currentVersion(x.vectors).get)}/ingest").size
    for (kind <- Seq("read", "append", "fold")) {
      val xs = r.all(kind)
      if (xs.nonEmpty) r.log(f"$kind%-7s n=${xs.size}%4d p50 ${Stats.median(xs)}%9.2f ms" +
        Stats.tail(xs).map { case (p, v) => f"  p$p ${v}%9.2f ms" }.getOrElse("  (tail needs 11+ samples)"))
    }
    Outcome(storedBytes, "read", (spans, _, _) => {
      val l = new Layers(spans, 1)
      Map("io.index_open_ms" -> l.meanMs("io.index_open"),
        "operators.read_exec_ms" -> l.meanMs("operators.read_exec"),
        "operators.append_postings_ms" -> l.meanMs("operators.append_postings"),
        "operators.append_vector_ms" -> l.meanMs("operators.append_vector"),
        "operators.fold_ms" -> l.meanMs("operators.fold"),
        "operators.prune_ms" -> l.meanMs("operators.prune"),
        "io.index_versions_live" -> versions.sum.toDouble,
        "io.index_segments" -> segments.toDouble)
    })
  }
}
