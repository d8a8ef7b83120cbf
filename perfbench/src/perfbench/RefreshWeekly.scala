package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.control.ControlTables
import graft.core.{TableRegistry, TableSpec}
import graft.gold.GoldPhase
import graft.io.{BatchStore, TableIO}
import graft.operators.{DqOps, FlattenOps}
import graft.orchestrate.{ContractOps, RefreshRun}
import graft.silver.{FlattenSpecs, SilverBuilder}
import graft.sources.RestSource

/** `refresh_weekly`: a steady-state weekly medallion refresh. Set-up builds
  * and promotes the prior week (all seven silver tables through the REST →
  * silver path, plus speeches and member votes). Each timed op is the next
  * week's refresh into a new batch: paginated fetch, silver flatten and
  * upsert-merge against the promoted tables, DQ and batch writes, the gold
  * phase (five marts, two compat adapters), candidate contracts, control
  * tables, manifest and promote, post-promote contracts. A run times one
  * such pass: a weekly job runs once per process.
  */
object RefreshWeekly {
  val Silver: Seq[String] = Seq("silver_members", "silver_member_memberships",
    "silver_member_parties", "silver_member_constituencies", "silver_member_offices",
    "silver_divisions", "silver_bill_stages")
  val Gold: Seq[String] = Seq("gold_current_members", "gold_member_activity_yearly",
    "gold_member_activity_monthly", "gold_constituency_activity_yearly",
    "gold_content_fact_pool")
  val Compat: Seq[(String, String, Seq[String])] = Seq(
    ("compat_members", "compat/members/members_compat.csv", Seq("member_code")),
    ("compat_member_votes", "compat/member_votes/member_votes_compat.csv",
      Seq("unique_vote_id", "member_code")))

  private val flattenOf: Map[String, (FlattenOps.FlattenSpec, DataFrame => DataFrame, String)] = Map(
    "silver_members" -> ((FlattenSpecs.members, FlattenSpecs.membersTransform _, "members")),
    "silver_member_memberships" ->
      ((FlattenSpecs.memberMemberships, FlattenSpecs.membershipsTransform _, "members")),
    "silver_member_parties" ->
      ((FlattenSpecs.memberParties, FlattenSpecs.memberPartiesTransform _, "members")),
    "silver_member_constituencies" ->
      ((FlattenSpecs.memberConstituencies, FlattenSpecs.memberConstituenciesTransform _, "members")),
    "silver_member_offices" ->
      ((FlattenSpecs.memberOffices, FlattenSpecs.memberOfficesTransform _, "members")),
    "silver_divisions" -> ((FlattenSpecs.divisions, FlattenSpecs.divisionsTransform _, "divisions")),
    "silver_bill_stages" -> ((FlattenSpecs.billStages, FlattenSpecs.billStagesTransform _, "bills")))

  /** A REST transport serving one table's payloads as fixed-size pages. */
  private def transport(payloads: Seq[String], pageSize: Int) = new RestSource.HttpTransport {
    private val pages = scala.collection.mutable.Queue(
      payloads.grouped(pageSize).map(g => s"""{"results":[${g.mkString(",")}]}""").toSeq: _*)
    def get(url: String, params: Map[String, String]): RestSource.HttpResult =
      RestSource.HttpResult(200, if (pages.nonEmpty) pages.dequeue() else """{"results":[]}""")
  }

  final case class WeekResult(silverRows: Map[String, Long], candidate: String, promoted: String,
                              servedKey: String)

  def run(r: Run): Outcome = {
    val spark = r.spark
    val g = new RefreshGen(r.args.seed, r.args.tiny)
    r.log(s"refresh_weekly inputs digest ${g.digest} (seed ${r.args.seed}, week ends ${g.end0} -> ${g.end1})")
    val week0 = g.payloads(0)
    val week1 = g.payloads(1)
    val (start1, end1) = g.window(1)
    val contracts = contractSet(r.args.tiny)
    val pool = math.min(4, Runtime.getRuntime.availableProcessors())
    val root = s"${r.args.work}/refresh/store"
    val store = BatchStore.local(root)

    def fetch(payloads: Seq[String], pageSize: Int)(): RestSource.ApiSummary =
      r.tracer.span("sources.fetch") {
        val s = new RestSource.Client(transport(payloads, pageSize), "https://api.test",
          sleeper = _ => ()).getPaginated("/refresh", Map("limit" -> pageSize.toString))
        r.tracer.count("sources.pages", s.pagination.pageCount)
        s
      }

    def silverPhase(batch: String, week: Map[String, Seq[String]], snapshot: String,
                    inputs: RefreshRun.RefreshInputs): Seq[(String, SilverBuilder.BuildResult)] =
      r.tracer.span("silver.phase") {
        RefreshRun.executePar(inputs.copy(tables = Silver), t => r.tracer.span("silver.table") {
          val (flat, transform, family) = flattenOf(t)
          val res = SilverBuilder.build(spark, store, root, batch, TableRegistry.specs(t), flat,
            fetch(week(family), inputs.pageSize), transform, snapshot)
          require(res.ok && res.dqStatus == "pass", s"silver build failed: $res")
          r.tracer.count("silver.rows", res.rowCount)
          res
        }, parallelism = pool)
      }

    /** Prior week: silver through the same builder, speeches and votes
      * written directly, then manifest and promote of batch b0.
      */
    def prepare(): Unit = {
      val (start0, end0) = g.window(0)
      val inputs = RefreshRun.normalize("weekly", TableRegistry.specs.keySet, Silver,
        dateStart = start0.toString, dateEnd = end0.toString)
      silverPhase("b0", week0, end0.toString, inputs)
      import spark.implicits._
      val speeches = g.speeches.toDF("speech_id", "speaker_member_code", "debate_date", "debate_id")
        .withColumn("snapshot_date", org.apache.spark.sql.functions.lit(end0.toString))
      val labels = Map("ta" -> "Tá", "nil" -> "Níl", "staon" -> "Staon")
      val votes = g.votes.map { case (id, div, vote, d, m, code) =>
        (id, div, vote, d, m, s"Member $m", code, labels(code), "", "", end0.toString)
      }.toDF("member_vote_id", "division_id", "vote_id", "division_date", "member_code",
        "member_name", "vote_code", "vote_label", "party_name_at_vote",
        "constituency_name_at_vote", "snapshot_date")
      Seq("silver_speeches" -> speeches, "silver_member_votes" -> votes).foreach { case (name, df) =>
        val keys = Seq(s"latest/csv/$name.csv", s"latest/parquet/$name.parquet")
        TableIO.writeCsv(df, s"$root/${store.batchKeyForProductionKey(keys(0), "b0")}")
        TableIO.writeParquet(df, s"$root/${store.batchKeyForProductionKey(keys(1), "b0")}")
        store.recordBatchTable("b0", name, df.count(), "pass",
          TableRegistry.specs(name).primaryKey, df.columns.toSeq, keys)
      }
      val m = store.assembleBatchManifest("b0", Silver :+ "silver_speeches" :+ "silver_member_votes")
      require(m("status") == "validated", s"prior week not validated: $m")
      store.promoteBatch("b0", actor = "perfbench-setup")
    }

    /** One weekly refresh of `week1` into `batch` against the promoted b0. */
    def refresh(batch: String): WeekResult = {
      val snapshot = end1.toString
      val inputs = RefreshRun.normalize("weekly", TableRegistry.specs.keySet,
        Silver ++ RefreshRun.ControlTail, dateStart = start1.toString, dateEnd = end1.toString)
      val built = silverPhase(batch, week1, snapshot, inputs)

      def candidate(name: String) = spark.read.parquet(
        s"$root/${store.batchKeyForProductionKey(s"latest/parquet/$name.parquet", batch)}")
      def promoted(name: String) = spark.read.parquet(
        s"$root/${store.resolveProductionKey(s"latest/parquet/$name.parquet")}")
      def writeGold(name: String, df: DataFrame): Unit = {
        val spec = TableRegistry.specs(name)
        val out = df.cache()
        val dq = DqOps.summary(out, spec.primaryKey, spec.columns).collect().head
        val rows = dq.getAs[Long]("row_count")
        require(dq.getAs[Long]("pk_duplicate_count") == 0 && dq.getAs[Long]("pk_blank_count") == 0 &&
          rows > 0, s"gold DQ failed for $name")
        val keys = Seq(s"latest/csv/$name.csv", s"latest/parquet/$name.parquet")
        r.tracer.span("io.write") {
          TableIO.writeCsv(out, s"$root/${store.batchKeyForProductionKey(keys(0), batch)}")
          TableIO.writeParquet(out, s"$root/${store.batchKeyForProductionKey(keys(1), batch)}")
        }
        store.recordBatchTable(batch, name, rows, "pass", spec.primaryKey, spec.columns, keys)
        out.unpersist()
      }
      def writeCompat(name: String, key: String, pk: Seq[String], df: DataFrame): Unit =
        r.tracer.span("compat") {
          val out = df.cache()
          val rows = out.count()
          r.tracer.span("io.write") {
            TableIO.writeCsv(out, s"$root/${store.batchKeyForProductionKey(key, batch)}")
          }
          store.recordBatchTable(batch, name, rows, "pass", pk, out.columns.toSeq, Seq(key))
          out.unpersist()
        }
      val currentMembers = r.tracer.span("gold.phase") {
        GoldPhase.run(GoldPhase.Inputs(candidate("silver_members"),
          candidate("silver_member_memberships"), candidate("silver_member_parties"),
          candidate("silver_member_constituencies"), candidate("silver_member_offices"),
          promoted("silver_speeches"), promoted("silver_member_votes"),
          candidate("silver_divisions"), snapshot)) {
          case ("gold_current_members", df) => writeGold("gold_current_members", df); df.cache()
          case ("gold_member_activity_yearly", df) =>
            writeGold("gold_member_activity_yearly", df); candidate("gold_member_activity_yearly")
          case (name, df) if Gold.contains(name) => writeGold(name, df); df
          case (name, df) =>
            val (_, key, pk) = Compat.find(_._1 == name).getOrElse(sys.error(s"unexpected $name"))
            writeCompat(name, key, pk, df); df
        }
      }
      currentMembers.unpersist()
      val today = java.time.LocalDate.now(java.time.ZoneOffset.UTC)
      val cand = r.tracer.span("orchestrate.contracts") {
        ContractOps.validateContractSet(spark, store, root, contracts.map { case (n, c) =>
          n -> c.copy(logicalKey = store.batchKeyForProductionKey(c.logicalKey, batch))
        }, Nil, today)("status").toString
      }
      r.tracer.span("control") { writeControl(spark, root, store, batch, inputs, built, snapshot) }
      r.tracer.span("io.promote") {
        val m = store.assembleBatchManifest(batch,
          Silver ++ Gold ++ Compat.map(_._1) ++ RefreshRun.ControlTail)
        require(m("status") == "validated", s"batch $batch not validated: $m")
        store.promoteBatch(batch, actor = "perfbench")
      }
      val prom = r.tracer.span("orchestrate.contracts") {
        ContractOps.validateContractSet(spark, store, root, contracts, Nil, today)("status").toString
      }
      WeekResult(built.map { case (t, b) => t -> b.rowCount }.toMap, cand, prom,
        store.resolveProductionKey("latest/parquet/silver_members.parquet"))
    }

    val expected = g.expectedSilverRows.map { case (t, n) =>
      t -> (if (r.args.plantWrong && t == "silver_members") n + 1 else n)
    }
    /** Untimed output checks of a refreshed week. */
    def check(batch: String, w: WeekResult): Boolean = {
      def read(name: String) = spark.read.parquet(
        s"$root/${store.batchKeyForProductionKey(s"latest/parquet/$name.parquet", batch)}")
      val silverOk = Silver.forall(t => read(t).count() == expected(t))
      val goldOk = Gold.forall { t =>
        val pk = TableRegistry.specs(t).primaryKey
        read(t).groupBy(pk.map(org.apache.spark.sql.functions.col): _*).count()
          .filter(org.apache.spark.sql.functions.col("count") > 1).isEmpty
      }
      val ok = w.candidate == "pass" && w.promoted == "pass" &&
        w.servedKey.startsWith(s"batches/$batch/") && silverOk && goldOk
      if (!ok) r.log(s"refresh check: $w silverOk=$silverOk goldOk=$goldOk expected=$expected")
      ok
    }

    r.setUp(prepare())
    r.heapSample()
    // No warm-up pass: a weekly refresh runs once per process, so its first
    // pass after set-up is what the job waits on.
    r.op("refresh")(refresh("b1"))(w => check("b1", w))
    val storedBytes = Files.treeBytes(s"$root/batches/b1")
    Outcome(storedBytes, "refresh", layers)
  }

  private def contractSet(tiny: Boolean): Map[String, ContractOps.DatasetContract] = Map(
    "compat_members" -> ContractOps.DatasetContract("compat_members",
      "compat/members/members_compat.csv", Seq("member_code", "full_name", "constituency", "party"),
      Seq("member_code"), minimumRows = if (tiny) 30 else 100),
    "gold_activity_monthly" -> ContractOps.DatasetContract("gold_activity_monthly",
      "latest/csv/gold_member_activity_monthly.csv",
      Seq("member_code", "year_month", "speech_count", "votes_cast_count"),
      Seq("member_code", "year_month"), minimumRows = if (tiny) 300 else 1000),
    "gold_constituency_yearly" -> ContractOps.DatasetContract("gold_constituency_yearly",
      "latest/csv/gold_constituency_activity_yearly.csv",
      Seq("constituency_name", "year", "member_count"), Seq("constituency_name", "year"),
      minimumRows = if (tiny) 10 else 25))

  private def writeControl(spark: SparkSession, root: String, store: BatchStore, batch: String,
                           inputs: RefreshRun.RefreshInputs,
                           built: Seq[(String, SilverBuilder.BuildResult)], snapshot: String): Unit = {
    val now = java.time.Instant.now().toString
    val runs = ControlTables.pipelineRuns(spark, built.map { case (t, b) =>
      ControlTables.RunRecord(s"run-$t", "perfbench", t, inputs.mode, inputs.refreshType, now, now,
        if (b.ok) "success" else "failed",
        s"""{"date_start":"${inputs.dateStart}","date_end":"${inputs.dateEnd}"}""",
        b.rowCount.toString, b.rowCount.toString, "", store.batchManifestKey(batch))
    })
    val manifests = ControlTables.tableManifests(spark, built.map { case (t, b) =>
      ControlTables.ManifestRecord(t, s"run-$t", snapshot, s"latest/parquet/$t.parquet",
        s"latest/csv/$t.csv", b.rowCount.toString, TableRegistry.specs(t).columns.size.toString,
        ControlTables.schemaHash(TableRegistry.specs(t).columns), "true", b.dqStatus, now)
    })
    val dq = built.map { case (t, b) =>
      ControlTables.dqResults(spark, s"run-$t", t,
        Seq(("row_count_gt_zero", b.rowCount > 0, b.rowCount.toString),
          ("dq_status_pass", b.dqStatus == "pass", b.dqStatus)), now)
    }.reduce(_ unionByName _)
    Seq("control_pipeline_runs" -> runs, "control_table_manifests" -> manifests,
      "control_data_quality_results" -> dq).foreach { case (name, df) =>
      val spec = TableRegistry.specs(name)
      val keys = Seq(s"latest/csv/$name.csv", s"latest/parquet/$name.parquet")
      val conformed = TableSpec.conform(df, spec)
      TableIO.writeCsv(conformed, s"$root/${store.batchKeyForProductionKey(keys(0), batch)}")
      TableIO.writeParquet(conformed, s"$root/${store.batchKeyForProductionKey(keys(1), batch)}")
      store.recordBatchTable(batch, name, conformed.count(), "pass", spec.primaryKey,
        spec.columns, keys)
    }
  }

  /** The workload's layer metrics, per traced refresh. */
  private def layers(spans: Seq[Span], counts: Map[String, Double], ops: Int): Map[String, Double] = {
    val l = new Layers(spans, ops)
    Map(
      "sources.fetch_s" -> l.total("sources.fetch"),
      "sources.pages" -> counts.getOrElse("sources.pages", 0.0) / ops,
      "silver.phase_s" -> l.total("silver.phase"),
      "silver.rows" -> counts.getOrElse("silver.rows", 0.0) / ops,
      "gold.self_s" -> l.self("gold.phase"),
      "io.write_s" -> l.total("io.write"),
      "io.promote_s" -> l.total("io.promote"),
      "compat.s" -> l.total("compat"),
      "orchestrate.contracts_s" -> l.total("orchestrate.contracts"),
      "control.s" -> l.total("control"))
  }
}
