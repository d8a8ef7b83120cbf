package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.io.ShardExport
import graft.operators.{CurationPipeline, DedupOps, GraphOps, MixOps, SimilarityOps,
  SplitOps, TextOps}

/** `curate_train`: the training-data chain over a documents table and an
  * embeddings table. Set-up writes the seeded inputs as parquet. The one
  * timed op runs the whole chain into a fresh output directory: 6-stage curation
  * materialized per stage, trained quality classifier and DSIR scores,
  * semantic dedup of the embeddings, MinHash near-dup pairs into connected
  * components feeding the leakage-safe split and the keep-best audit,
  * token-budget source mixing, and JSONL shard export.
  */
object CurateTrain {
  final case class PassResult(survivors: Long, plantedPredicted: Long, otherPredicted: Long,
                              nearDupDropped: Long, splitTotal: Long, shardFiles: Int)

  def run(r: Run): Outcome = {
    val spark = r.spark
    import spark.implicits._
    val g = new CurateGen(r.args.seed, r.args.tiny)
    r.log(s"curate_train inputs digest ${g.digest} (seed ${r.args.seed})")
    val work = s"${r.args.work}/curate"
    val t = r.tracer

    def prepare(dir: String): (DataFrame, DataFrame) = {
      g.docs.map { case (id, text, lang, src) =>
        (id, text, lang, src, text.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents")
      g.vectors.map { case (id, v, l) => (id, v, l) }.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings")
      (spark.read.parquet(s"$dir/documents"), spark.read.parquet(s"$dir/embeddings"))
    }

    val planted = g.plantedQuality.toSeq.sorted
    val isEval = col("doc_id") % 10 === 0
    val isPlanted = col("doc_id").isin(planted: _*)

    /** One pass of the chain; the stages and parameters of TrainDataE2EMain. */
    def curate(docs: DataFrame, emb: DataFrame, out: String): PassResult = {
      val curated = t.span("operators.curate") {
        CurationPipeline.curateFullToParquet(docs, "text", "doc_id", "lang", isEval, s"$out/curated")
      }
      val survivors = curated.count()
      t.count("operators.curate_survivors", survivors)

      val (margins, plantedPred, otherPred) = t.span("operators.classifier") {
        val docsCls = docs.withColumn("text",
          when(isEval || isPlanted, lit(g.qualityText)).otherwise(col("text")))
        val (m, caches) = TextOps.qualityClassifierWithCaches(docsCls, "text", "doc_id",
          isEval, steps = 3)
        val mc = m.cache()
        val pp = mc.filter(col("predicted_target") && isPlanted).count()
        val po = mc.filter(col("predicted_target") && !isPlanted).count()
        caches.foreach(_.unpersist())
        (mc, pp, po)
      }
      val scored = t.span("operators.dsir") {
        val s = TextOps.dsirScores(docs, "text", "doc_id", isEval)
        curated.join(margins, Seq("doc_id"), "left")
          .join(s.select(col("doc_id"), col("dsir_score")), Seq("doc_id"), "left")
          .write.mode("overwrite").parquet(s"$out/scored")
        margins.unpersist()
        spark.read.parquet(s"$out/scored")
      }

      val dropped = t.span("operators.semdedup") {
        val base = emb.select(col("vec_id").cast("long").as("vid"),
          transform(col("embedding"), x => x.cast("double")).as("vd"))
        val copies = base.filter(col("vid").isin(g.plantedNearDup.toSeq.sorted: _*))
          .select((col("vid") + 100000L).as("vid"),
            concat(array(element_at(col("vd"), 1) * lit(1.25)),
              slice(col("vd"), lit(2), size(col("vd")) - 1)).as("vd"))
        val (verdicts, caches) = SimilarityOps.semanticDedupWithCaches(base.unionByName(copies),
          "vid", "vd", k = 8, maxIter = 2, t2 = 0.81)
        val n = verdicts.filter(!col("kept")).count()
        caches.foreach(_.unpersist())
        t.count("operators.semdedup_dropped", n)
        n
      }

      val pairs = t.span("operators.minhash") {
        DedupOps.minhashNearDupPairs(scored, "_t", "doc_id", n = 3, numHashes = 64, bands = 32,
          threshold = 0.5, maxBucket = DedupOps.DefaultMaxBucket)
      }
      val comp = t.span("operators.components") {
        val c = GraphOps.connectedComponents(pairs, "doc_a", "doc_b")
          .persist(StorageLevel.MEMORY_AND_DISK)
        c.count()
        c
      }
      val (splitDf, splitTotal) = t.span("operators.split") {
        val sp = SplitOps.leakageSafeSplitFromComponents(scored, "doc_id", comp)
        val sizes = sp.groupBy("split").count().collect().map(_.getLong(1)).sum
        (scored.join(sp.select("doc_id", "split"), Seq("doc_id")), sizes)
      }
      t.span("operators.keepbest") {
        SplitOps.nearDupKeepBestFromComponents(scored, "doc_id", length(col("_t")), comp)
          .filter(!col("kept")).count()
        comp.unpersist()
      }
      val mixed = t.span("operators.mix") {
        val train = splitDf.filter(col("split") === "train")
          .join(docs.select(col("doc_id").cast("long").as("doc_id"), col("source")), Seq("doc_id"))
        val w = (expr("CAST(substring(source, 4) AS INT)") % 4 + 1).cast("double") / lit(4.0)
        MixOps.mixByTokenBudget(train, "source", "_t", "doc_id", w, budgetFrac = 0.5)
      }
      val shardFiles = t.span("io.shard_export") {
        val toks = mixed.select(col("doc_id"), col("_t").as("text"),
          size(split(col("_t"), " ")).cast("long").as("tokens"))
        ShardExport.writeJsonlShards(
          ShardExport.assignShards(toks, "tokens", "doc_id", numShards = 8, capacity = 4096L),
          s"$out/shards")
        Option(new java.io.File(s"$out/shards").listFiles()).map(_.count(_.isDirectory)).getOrElse(0)
      }
      PassResult(survivors, plantedPred, otherPred, dropped, splitTotal, shardFiles)
    }

    val nPlanted = planted.size.toLong + (if (r.args.plantWrong) 1000 else 0)
    val nCopies = g.plantedNearDup.size.toLong
    def check(p: PassResult): Boolean = {
      val ok = p.plantedPredicted * 10 >= nPlanted * 9 && p.otherPredicted <= p.plantedPredicted / 5 &&
        p.nearDupDropped * 10 >= nCopies * 9 && p.splitTotal == p.survivors && p.shardFiles > 0
      if (!ok) r.log(s"curate check: $p (planted quality $nPlanted, near-dup copies $nCopies)")
      ok
    }

    val (docs, emb) = r.setUp(prepare(s"$work/inputs"))
    r.heapSample()
    // No warm-up pass: a curation run is a batch job, once per process.
    r.op("curate")(curate(docs, emb, s"$work/pass"))(check)
    val storedBytes = Files.treeBytes(s"$work/pass")
    Outcome(storedBytes, "curate", (spans, counts, ops) => {
      val l = new Layers(spans, ops)
      Map("operators.curate_s" -> l.total("operators.curate"),
        "operators.curate_survivors" -> counts.getOrElse("operators.curate_survivors", 0.0) / ops,
        "operators.classifier_s" -> l.total("operators.classifier"),
        "operators.dsir_s" -> l.total("operators.dsir"),
        "operators.semdedup_s" -> l.total("operators.semdedup"),
        "operators.semdedup_dropped_frac" ->
          counts.getOrElse("operators.semdedup_dropped", 0.0) / ops / nCopies,
        "operators.minhash_s" -> l.total("operators.minhash"),
        "operators.components_s" -> l.total("operators.components"),
        "operators.split_s" -> l.total("operators.split"),
        "operators.keepbest_s" -> l.total("operators.keepbest"),
        "operators.mix_s" -> l.total("operators.mix"),
        "io.shard_export_s" -> l.total("io.shard_export"))
    })
  }
}
