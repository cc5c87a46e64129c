package graft

import graft.operators.Dedup

/** Exact all-pairs Jaccard via prefix filtering: equality against the
  * brute-force all-pairs scan (the pruning must lose NOTHING), boundary
  * thresholds, and the integer gate.
  */
class PrefixFilterSpec extends SparkSpec {
  import spark.implicits._

  private def norm(t: String): Set[String] =
    t.toLowerCase.replaceAll("[^a-z0-9\\s]", " ").trim
      .split("\\s+").filter(_.nonEmpty).toSet

  private def brute(texts: Seq[(Long, String)], pct: Int)
      : Set[(Long, Long, Long, Long)] = {
    val sets = texts.map { case (id, t) => id -> norm(t) }
      .filter(_._2.nonEmpty)
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      inter = (sa & sb).size.toLong
      uni = (sa | sb).size.toLong
      if inter * 100L >= pct.toLong * uni
    } yield (a, b, inter, uni)).toSet
  }

  private def run(texts: Seq[(Long, String)], pct: Int)
      : Set[(Long, Long, Long, Long)] =
    Dedup.prefixFilterJaccard(texts.toDF("doc_id", "text"), "doc_id", "text",
        thresholdPct = pct)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet

  private val texts: Seq[(Long, String)] = Seq(
    0L -> "the quick brown fox jumps over the lazy dog",
    1L -> "the quick brown fox jumps over a lazy dog",   // near-dup of 0
    2L -> "the quick brown fox jumps over the lazy dog", // exact dup of 0
    3L -> "lazy dog sleeps",
    4L -> "completely different words entirely here",
    5L -> "words entirely different completely here",    // exact set-dup of 4
    6L -> "",
    7L -> "quick brown")

  test("prefix-filtered pairs equal the brute-force all-pairs scan") {
    for (pct <- Seq(30, 50, 60, 80, 100))
      assert(run(texts, pct) == brute(texts, pct), s"pct=$pct")
  }

  test("boundary: a pair at exactly the threshold is kept") {
    // sets {a,b,c} and {a,b,d}: inter=2, union=4 → J = 0.5 exactly
    val t = Seq(0L -> "a b c", 1L -> "a b d")
    assert(run(t, 50) == Set((0L, 1L, 2L, 4L)))
    assert(run(t, 51) == Set.empty)
  }

  test("shingle units (n=3) replay the brute shingle-set scan") {
    def shingleSet(t: String): Set[String] = {
      val ws = t.toLowerCase.replaceAll("[^a-z0-9\\s]", " ").trim
        .split("\\s+").filter(_.nonEmpty)
      ws.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }
    val bruteSh = (for {
      (a, sa) <- texts.map { case (i, t) => i -> shingleSet(t) }
        .filter(_._2.nonEmpty)
      (b, sb) <- texts.map { case (i, t) => i -> shingleSet(t) }
        .filter(_._2.nonEmpty)
      if a < b
      inter = (sa & sb).size.toLong
      uni = (sa | sb).size.toLong
      if inter * 100L >= 60L * uni
    } yield (a, b, inter, uni)).toSet
    val got = Dedup.prefixFilterJaccard(texts.toDF("doc_id", "text"),
        "doc_id", "text", thresholdPct = 60, n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got == bruteSh)
    assert(got.nonEmpty) // docs 0/1/2 share shingles — fixture has teeth
  }

  test("containmentJoin: word units match brute containment; big docs still hit") {
    // doc 10 CONTAINS all of query 0's words but is 4x larger: Jaccard is
    // tiny, containment is 100%
    val corpus = Seq(
      10L -> "alpha beta gamma delta e1 e2 e3 e4 e5 e6 e7 e8",
      11L -> "alpha beta other words here now",
      12L -> "nothing relevant at all")
    val qs = Seq(100L -> "alpha beta gamma delta", 101L -> "missing words")
    val got = Dedup.containmentJoin(corpus.toDF("doc_id", "text"), "doc_id",
        "text", qs.toDF("qid", "qtext"), "qid", "qtext",
        thresholdPct = 50, n = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val want = (for {
      (q, qt) <- qs; (d, dt) <- corpus
      sq = norm(qt); sd = norm(dt)
      inter = (sq & sd).size.toLong
      if inter * 100L >= 50L * sq.size.toLong
    } yield (q, d, inter, sq.size.toLong)).toSet
    assert(got == want)
    assert(got.contains((100L, 10L, 4L, 4L))) // full containment, low Jaccard
    assert(got.contains((100L, 11L, 2L, 4L))) // exactly at the 50% boundary
    assert(got.contains((101L, 11L, 1L, 2L))) // 'words' alone reaches 50%
  }

  test("containmentJoin shingle units: planted leaked prefix is found") {
    val corpus = texts
    val qs = Seq(200L -> "the quick brown fox jumps")
    val got = Dedup.containmentJoin(corpus.toDF("doc_id", "text"), "doc_id",
        "text", qs.toDF("qid", "qtext"), "qid", "qtext",
        thresholdPct = 100, n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every doc containing all 3 shingles of the query: docs 0, 1, 2
    assert(got == Set((200L, 0L), (200L, 1L), (200L, 2L)))
  }

  test("editDistanceJoin equals brute all-pairs Levenshtein, short pool included") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    // mix of long strings and SHORT ones (< q*(k+1) = 6 chars) that the
    // q-gram guarantee cannot cover — the short pool must catch them
    val strs = Seq("cold rod", "cold rom", "blue rod", "cold widget",
      "old widget", "bold widget", "cat", "bat", "rat", "cart", "ace",
      "blue rodx", "xyz")
    val df = strs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "name")
    for (k <- Seq(1, 2)) {
      val got = Dedup.editDistanceJoin(df, "name", maxDist = k)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSet
      val want = (for {
        a <- strs.distinct; b <- strs.distinct if a < b
        d = lev(a, b) if d <= k
      } yield (a, b, d.toLong)).toSet
      assert(got == want, s"k=$k")
    }
  }

  test("random corpora: pruning never loses a qualifying pair") {
    val rnd = new scala.util.Random(11)
    val vocab = ('a' to 't').map(_.toString)
    val corpus = (0L until 40L).map { i =>
      i -> rnd.shuffle(vocab).take(3 + rnd.nextInt(8)).mkString(" ")
    }
    for (pct <- Seq(40, 70))
      assert(run(corpus, pct) == brute(corpus, pct), s"pct=$pct")
  }

  /** Distinct word 3-shingles of `t` (empty when `t` has < 3 words). */
  private def shingles3(t: String): Set[String] =
    t.toLowerCase.replaceAll("[^a-z0-9\\s]", " ").trim
      .split("\\s+").filter(_.nonEmpty).sliding(3).filter(_.length == 3)
      .map(_.mkString(" ")).toSet

  /** The brute all-pairs scan over precomputed unit sets. */
  private def bruteSets(sets: Seq[(Long, Set[String])], pct: Int)
      : Set[(Long, Long, Long, Long)] =
    (for {
      (a, sa) <- sets if sa.nonEmpty; (b, sb) <- sets if sb.nonEmpty && a < b
      inter = (sa & sb).size.toLong
      uni = (sa | sb).size.toLong
      if inter * 100L >= pct.toLong * uni
    } yield (a, b, inter, uni)).toSet

  private def rows(df: org.apache.spark.sql.DataFrame)
      : Set[(Long, Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3))).toSet

  test("random shingle corpora at pct 30 (longest prefix), 1 and 8 partitions") {
    // edited copies of a few base word runs, so 3-shingle Jaccard spreads
    // across the whole range rather than sitting at 0 or 1
    val rnd = new scala.util.Random(23)
    val vocab = ('a' to 'p').map(c => s"w$c")
    val bases = Seq.fill(4)(Seq.fill(16)(vocab(rnd.nextInt(vocab.size))))
    val corpus = (0L until 48L).map { i =>
      val ws = bases(rnd.nextInt(bases.size)).map(w =>
        if (rnd.nextInt(6) == 0) vocab(rnd.nextInt(vocab.size)) else w)
      i -> ws.drop(rnd.nextInt(4)).take(6 + rnd.nextInt(11)).mkString(" ")
    }
    val want = bruteSets(corpus.map { case (i, t) => i -> shingles3(t) }, 30)
    assert(want.size >= 20, "fixture has too few qualifying pairs")
    assert(want.exists { case (_, _, i, u) => i * 100 < 60 * u },
      "fixture has no pair in the low-Jaccard band")
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    for (p <- Seq(1, 8)) {
      spark.conf.set(key, p.toString)
      try {
        val got = rows(Dedup.prefixFilterJaccard(
          corpus.toDF("doc_id", "text").repartition(p), "doc_id", "text",
          thresholdPct = 30, n = 3))
        assert(got == want, s"partitions=$p")
      } finally spark.conf.set(key, before)
    }
  }

  test("null text, a text too short to shingle and a null id pair with nothing") {
    val docs: Seq[(Option[Long], String)] = Seq(
      Some(0L) -> "the quick brown fox jumps over the lazy dog",
      Some(1L) -> "the quick brown fox jumps over a lazy dog",
      Some(2L) -> null,
      Some(3L) -> "lazy dog",
      None -> "the quick brown fox jumps over the lazy dog",
      Some(4L) -> "quick brown fox jumps over the lazy dog today")
    val valid = docs.collect { case (Some(i), t) if t != null => i -> t }
    for ((n, unit) <- Seq[(Int, String => Set[String])](1 -> norm, 3 -> shingles3)) {
      val got = rows(Dedup.prefixFilterJaccard(docs.toDF("doc_id", "text"),
        "doc_id", "text", thresholdPct = 30, n = n))
      val want = bruteSets(valid.map { case (i, t) => i -> unit(t) }, 30)
      assert(got == want, s"n=$n")
      assert(want.nonEmpty, s"n=$n: fixture has no qualifying pair")
    }
  }
}
