package perfbench

import java.security.MessageDigest
import java.time.LocalDate

/** Seeded input generators, kept apart from the measured calls: each
  * workload's inputs are a pure function of (seed, scale), and every
  * generator exposes a digest of what it produced so a run can show that
  * the same seed gave the same inputs.
  */
object Gen {
  /** Print each workload's input digest for a seed: `Gen <seed> [tiny]`. */
  def main(args: Array[String]): Unit = {
    val (seed, tiny) = (args(0).toLong, args.drop(1).contains("tiny"))
    println(s"refresh_weekly ${new RefreshGen(seed, tiny).digest}")
    println(s"curate_train ${new CurateGen(seed, tiny).digest}")
    println(s"index_serve ${new ServeGen(seed, tiny).digest}")
  }

  def rng(seed: Long, stream: String): scala.util.Random =
    new scala.util.Random(seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong)

  def digest(parts: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p.getBytes("UTF-8")); md.update(0.toByte) }
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  /** Shared 31-word vocabulary of the curation corpus (the shape of the
    * synthetic `documents` table the program's tests use).
    */
  val SmallVocab: IndexedSeq[String] = ("a the data spark line column order small " +
    "sort fast value scan hash slow group batch part agg filter query big key " +
    "window row table stream merge join customer vector").split(" ").toIndexedSeq
}

/** Two consecutive weekly REST snapshots of the Oireachtas-shaped sources
  * (members with their memberships, divisions, bill stages) plus the prior
  * week's speeches and member votes. Week 1's 35-day window overlaps week
  * 0's by 28 days, renames some members, moves some to another party and
  * adds new ones, so the silver upsert really merges.
  */
final class RefreshGen(seed: Long, tiny: Boolean) {
  private val r = Gen.rng(seed, "refresh")
  val nMembers: Int = if (tiny) 120 else 400
  val nNew: Int = nMembers / 20
  val nConstituencies: Int = if (tiny) 12 else 40
  val divisionsPerDay: Int = if (tiny) 2 else 6
  val nBills: Int = if (tiny) 30 else 120
  val nSpeeches: Int = if (tiny) 1500 else 5000
  val nVotes: Int = if (tiny) 3000 else 9000

  /** Week 0 ends on a seed-chosen day; week 1 is the next weekly run. */
  val end0: LocalDate = LocalDate.of(2024, 1, 1).plusDays(r.nextInt(300).toLong)
  val end1: LocalDate = end0.plusDays(7)
  def window(week: Int): (LocalDate, LocalDate) =
    if (week == 0) (end0.minusDays(35), end0) else (end1.minusDays(35), end1)
  private def inWindow(d: LocalDate, week: Int) = {
    val (a, b) = window(week)
    !d.isBefore(a) && !d.isAfter(b)
  }

  private final case class Member(code: String, name: String, party: Int, partyStart: String,
                                  constituency: Int, office: String, female: Boolean)

  private val members0: IndexedSeq[Member] = (0 until nMembers).map { i =>
    Member(f"M$i%05d", s"Member ${r.alphanumeric.take(6).mkString}", r.nextInt(6), "2020-02-08",
      r.nextInt(nConstituencies), if (r.nextDouble() < 0.1) s"Office ${r.nextInt(7)}" else "",
      r.nextBoolean())
  }
  private val renamed = r.shuffle((0 until nMembers).toVector).take(nMembers / 20).toSet
  private val switched = r.shuffle((0 until nMembers).toVector).take(nMembers / 30).toSet
  private val members1: IndexedSeq[Member] = members0.zipWithIndex.map { case (m, i) =>
    val m1 = if (renamed(i)) m.copy(name = m.name + " Jr") else m
    if (switched(i)) m1.copy(party = (m.party + 1) % 6, partyStart = end0.plusDays(1).toString)
    else m1
  } ++ (nMembers until nMembers + nNew).map { i =>
    Member(f"M$i%05d", s"Member ${r.alphanumeric.take(6).mkString}", r.nextInt(6),
      end0.toString, r.nextInt(nConstituencies), "", r.nextBoolean())
  }

  private def memberJson(m: Member): String = {
    def range(start: String) = Map("start" -> start)
    Json.obj(Seq("member" -> Map(
      "memberCode" -> m.code, "fullName" -> m.name, "firstName" -> m.name.split(" ").head,
      "lastName" -> m.name.split(" ").last, "showAs" -> m.name, "uri" -> s"member/${m.code}",
      "gender" -> (if (m.female) "female" else "male"),
      "memberships" -> Seq(Map("membership" -> Map(
        "uri" -> s"membership/${m.code}",
        "house" -> Map("uri" -> "house/34", "houseNo" -> "34", "houseCode" -> "dail"),
        "dateRange" -> range("2020-02-08"),
        "parties" -> Seq(Map("party" -> Map("uri" -> s"party/${m.party}",
          "showAs" -> s"Party ${m.party}", "dateRange" -> range(m.partyStart)))),
        "represents" -> Seq(Map("represent" -> Map("uri" -> s"con/${m.constituency}",
          "showAs" -> s"CON-${m.constituency}", "dateRange" -> range("2020-02-08")))),
        "offices" -> Seq(Map("office" -> Map("uri" -> s"office/${m.code}",
          "officeName" -> Map("showAs" -> m.office), "dateRange" -> range("2021-01-01"))))))))))
  }

  private val divisionDays: Seq[LocalDate] =
    Iterator.iterate(end0.minusDays(35))(_.plusDays(1)).takeWhile(!_.isAfter(end1)).toSeq
  private val divisions: Seq[(String, LocalDate, Boolean)] = for {
    d <- divisionDays; j <- 0 until divisionsPerDay
  } yield (s"v${d.toString.replace("-", "")}$j", d, r.nextBoolean())
  private val flipped = divisions.filter(_ => r.nextDouble() < 0.1).map(_._1).toSet

  private def divisionJson(id: String, d: LocalDate, carried: Boolean): String =
    Json.obj(Seq("uri" -> s"vote/$id", "voteId" -> id, "date" -> d.toString,
      "house" -> Map("uri" -> "house/34", "houseNo" -> "34", "houseCode" -> "dail"),
      "subject" -> Map("showAs" -> s"Division $id"),
      "outcome" -> (if (carried) "carried" else "lost")))

  private val billStages: Seq[(Int, Int, LocalDate)] = (0 until nBills).flatMap { b =>
    (0 until 1 + r.nextInt(4)).map(k => (b, k, end0.minusDays(60).plusDays(r.nextInt(68).toLong)))
  }

  private def billJson(b: Int, stages: Seq[(Int, Int, LocalDate)]): String =
    Json.obj(Seq("bill" -> Map("uri" -> s"bill/$b", "stages" -> stages.sortBy(_._2).map {
      case (_, k, d) => Map("uri" -> s"stage/$b/$k", "showAs" -> s"Stage $k",
        "dates" -> Seq(Map("date" -> d.toString)), "progressStage" -> k.toString,
        "stageOutcome" -> "passed",
        "house" -> Map("uri" -> s"house/${b % 3}", "showAs" -> s"House ${b % 3}"))
    })))

  /** REST payload objects per silver source family for week 0 or 1. */
  def payloads(week: Int): Map[String, Seq[String]] = {
    val ms = (if (week == 0) members0 else members1).map(memberJson)
    val ds = divisions.filter(x => inWindow(x._2, week)).map { case (id, d, c) =>
      divisionJson(id, d, if (week == 1 && flipped(id)) !c else c)
    }
    val bs = billStages.filter(x => inWindow(x._3, week)).groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (b, ss) => billJson(b, ss) }
    Map("members" -> ms, "divisions" -> ds, "bills" -> bs)
  }

  /** Silver rows after week 1 is merged onto week 0: the upsert union. */
  def expectedSilverRows: Map[String, Long] = {
    val everyMember = (nMembers + nNew).toLong
    Map(
      "silver_members" -> everyMember,
      "silver_member_memberships" -> everyMember,
      "silver_member_parties" -> (everyMember + switched.size),
      "silver_member_constituencies" -> everyMember,
      "silver_member_offices" -> everyMember,
      "silver_divisions" -> divisions.count(x => inWindow(x._2, 0) || inWindow(x._2, 1)).toLong,
      "silver_bill_stages" ->
        billStages.count(x => inWindow(x._3, 0) || inWindow(x._3, 1)).toLong)
  }

  /** Prior week's speeches: (speech_id, speaker, debate_date, debate_id). */
  val speeches: Seq[(String, String, String, String)] = (0 until nSpeeches).map { i =>
    (f"sp$i%06d", members0(r.nextInt(nMembers)).code,
      end0.minusDays(r.nextInt(730).toLong).toString, s"deb${r.nextInt(400)}")
  }

  /** Prior week's member votes: (vote id, division id, vote, date, member, code). */
  val votes: Seq[(String, String, String, String, String, String)] = (0 until nVotes).map { i =>
    val k = r.nextInt(600)
    val d = end0.minusDays((k * 730L) / 600).toString
    val m = members0(r.nextInt(nMembers))
    (f"mv$i%07d", s"division:hv$k:$d", s"hv$k", d, m.code, Seq("ta", "nil", "staon")(r.nextInt(3)))
  }

  def digest: String = Gen.digest(
    (payloads(0).toSeq ++ payloads(1).toSeq).sortBy(_._1).iterator.flatMap(_._2.iterator) ++
      speeches.iterator.map(_.toString) ++ votes.iterator.map(_.toString))
}

/** The training-data corpus: documents over a small shared vocabulary with
  * exact and near-duplicate texts, a seed-placed set of planted "quality"
  * docs written in a target-only vocabulary, and clustered embeddings with
  * seed-placed near-duplicate copies.
  */
final class CurateGen(seed: Long, tiny: Boolean) {
  private val r = Gen.rng(seed, "curate")
  /** Full scale is the shape of the sf0.1 `documents` and `embeddings`
    * tables: 5,000 docs and 2,000 64-dim vectors.
    */
  val nDocs: Int = if (tiny) 300 else 5000
  val nVectors: Int = if (tiny) 200 else 2000
  val dim = 64

  val isEval: Long => Boolean = _ % 10 == 0
  val qualityText = "zephyr quixotic lambent vellum citrine aurum " +
    "gossamer peregrine sylvan thalassic verdant obsidian"

  private def words(n: Int) = Seq.fill(n)(Gen.SmallVocab(r.nextInt(Gen.SmallVocab.size)))
  /** (doc_id, text, lang, source) */
  val docs: IndexedSeq[(Long, String, String, String)] = {
    val base = (0 until nDocs).map { i =>
      val t = words(10 + r.nextInt(50)).mkString(" ")
      (i.toLong, t, Seq("en", "en", "en", "de", "fr", "zh")(r.nextInt(6)), s"src${r.nextInt(8)}")
    }
    base.map { case d @ (id, _, lang, src) =>
      val roll = r.nextDouble()
      if (id > 0 && roll < 0.03) (id, base(r.nextInt(id.toInt))._2, lang, src) // exact copy
      else if (id > 0 && roll < 0.08) {                                         // near copy
        val w = base(r.nextInt(id.toInt))._2.split(" ")
        w(r.nextInt(w.length)) = Gen.SmallVocab(r.nextInt(Gen.SmallVocab.size))
        (id, w.mkString(" "), lang, src)
      } else d
    }
  }
  /** Raw docs (not eval) rewritten in the target vocabulary: 2% of the corpus. */
  val plantedQuality: Set[Long] =
    r.shuffle(docs.map(_._1).filterNot(isEval)).take(nDocs / 50).toSet

  private val centers = Seq.fill(8)(Seq.fill(dim)(r.nextGaussian() * 0.15))
  /** (vec_id, embedding, label) */
  val vectors: IndexedSeq[(Long, Array[Float], Int)] = (0 until nVectors).map { i =>
    val c = r.nextInt(centers.size)
    (i.toLong, centers(c).map(x => (x + r.nextGaussian() * 0.1).toFloat).toArray, c)
  }
  /** Vectors re-appended as near-copies under vec_id + 100000. */
  val plantedNearDup: Set[Long] =
    r.shuffle(vectors.map(_._1)).take(nVectors / 5).toSet

  def digest: String = Gen.digest(docs.iterator.map(_.toString) ++
    plantedQuality.toSeq.sorted.iterator.map(_.toString) ++
    vectors.iterator.map(v => s"${v._1}:${v._2.mkString(",")}:${v._3}") ++
    plantedNearDup.toSeq.sorted.iterator.map(_.toString))
}

/** The serving corpus: documents over a Zipf-like vocabulary (so postings
  * are selective) with an embedding each, a seed-chosen base part indexed
  * in set-up, the rest arriving as append batches, and a seed-ordered
  * request sequence over them.
  */
final class ServeGen(seed: Long, tiny: Boolean) {
  private val r = Gen.rng(seed, "serve")
  /** Full scale is the sf0.1 `documents` row count with the sf0.1
    * embedding width; an append batch is 1% of the corpus.
    */
  val nDocs: Int = if (tiny) 400 else 5000
  val baseFrac = 0.5
  val batchDocs: Int = if (tiny) 10 else 50
  val dim = 64
  val cells = 8
  private val vocab = (0 until 1500).map(i => s"w$i")
  private val zipf = {
    val w = (1 to vocab.size).map(k => 1.0 / k)
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
  }
  private def word(): String = {
    val u = r.nextDouble()
    val i = zipf.indexWhere(_ >= u)
    vocab(if (i < 0) vocab.size - 1 else i)
  }
  private val centers = Seq.fill(cells)(Seq.fill(dim)(r.nextGaussian() * 0.2))
  private val order = r.shuffle((0 until nDocs).toVector)

  /** (doc_id, text, embedding, cell label, batch: 0 = base, k = k-th append) */
  val docs: IndexedSeq[(Long, String, Array[Float], Int, Int)] = {
    val nBase = (nDocs * baseFrac).toInt
    order.zipWithIndex.map { case (id, pos) =>
      val c = r.nextInt(cells)
      val batch = if (pos < nBase) 0 else 1 + (pos - nBase) / batchDocs
      (id.toLong, Seq.fill(8 + r.nextInt(40))(word()).mkString(" "),
        centers(c).map(x => (x + r.nextGaussian() * 0.08).toFloat).toArray, c, batch)
    }.sortBy(_._1)
  }

  /** One cycle of request kinds: five reads to one append, and a fold
    * after every second append. The program documents no traffic mix
    * (only "append per trigger, periodic fold"), so this ratio is an
    * assumption. The cycle is the same for every seed, so every seed offers
    * the same traffic mix; the seed picks what is read and the order in
    * which documents arrive.
    */
  val cycle: Seq[String] = Seq.fill(2)(Seq.fill(5)("read") :+ "append").flatten :+ "fold"

  /** The query of read `i`: its terms (4 words of a doc) and that doc's id. */
  def query(i: Int, live: IndexedSeq[Long]): (Long, Seq[String]) = {
    val q = new scala.util.Random(seed * 31 + i)
    val id = live(q.nextInt(live.size))
    val ws = docs(id.toInt)._2.split(" ")
    (id, Seq.fill(4)(ws(q.nextInt(ws.length))).distinct)
  }

  def digest: String = Gen.digest(docs.iterator.map(d =>
    s"${d._1}:${d._2}:${d._3.mkString(",")}:${d._4}:${d._5}"))
}
