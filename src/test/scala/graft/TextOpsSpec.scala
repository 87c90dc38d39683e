package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextAnalysis

/** Vocabulary top-k and bigram-LM scoring vs driver-side twins. */
class TextOpsSpec extends AnyFunSuite with SparkSpec {

  private val corpus = Seq(
    (0L, "en", "the cat sat on the mat"),
    (1L, "en", "the dog sat"),
    (2L, "fr", "le chat le chien"),
    (3L, "en", "cat"),          // single token: no bigrams
    (4L, "fr", "le"))           // single token

  test("vocabTopK ranks by count desc then word asc within language") {
    import spark.implicits._
    val df = corpus.toDF("doc_id", "lang", "text")
    val got = TextAnalysis.vocabTopK(df, "lang", "text", k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getString(2), r.getLong(3)))).toMap
    // en counts: the=3, sat=2, cat=2, on/mat/dog=1 -> ties cat<sat
    assert(got(("en", 1L)) === ("the", 3L))
    assert(got(("en", 2L)) === ("cat", 2L))
    assert(got(("en", 3L)) === ("sat", 2L))
    // fr counts: le=3, chat=1, chien=1 -> chat<chien
    assert(got(("fr", 1L)) === ("le", 3L))
    assert(got(("fr", 2L)) === ("chat", 1L))
    assert(got(("fr", 3L)) === ("chien", 1L))
  }

  test("bpePairCounts equals the scalar frequency-weighted twin") {
    import spark.implicits._
    val df = corpus.toDF("doc_id", "lang", "text")
    val got = TextAnalysis.bpePairCounts(df, "text", k = 5)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
    // scalar twin: word freq * per-word adjacent char pairs
    val wc = corpus.flatMap(_._3.split(" ")).groupBy(identity)
      .map { case (w, v) => w -> v.size.toLong }
    val pc = wc.toSeq.filter(_._1.length >= 2).flatMap { case (w, n) =>
      w.sliding(2).map(p => p -> n)
    }.groupBy(_._1).map { case (p, v) => p -> v.map(_._2).sum }
    val want = pc.toSeq.sortBy { case (p, n) => (-n, p) }.take(5)
    assert(got.map(_._2).toSeq === want)
    assert(got.map(_._1).toSeq === (1L to got.length.toLong))
  }

  test("bigramScore equals the scalar MLE twin; one-token docs drop") {
    import spark.implicits._
    val df = corpus.toDF("doc_id", "lang", "text")
    val got = TextAnalysis.bigramScore(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet === Set(0L, 1L, 2L))
    // scalar twin
    val bigrams = corpus.flatMap { case (id, _, t) =>
      val w = t.split(" "); w.zip(w.tail).map(p => (id, p))
    }
    val bc = bigrams.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    val pc = bc.groupBy(_._1._1).map { case (k, v) => k -> v.values.sum }
    for ((id, (n, score)) <- got) {
      val mine = bigrams.filter(_._1 == id).map(_._2)
      assert(n === mine.size.toLong, s"doc $id n_bigrams")
      val want = mine.map { p =>
        math.floor(math.log(bc(p).toDouble / pc(p._1).toDouble) * 1.0e9).toLong
      }.sum
      assert(score === want, s"doc $id logprob_q")
    }
    // "the cat" appears once, prefix "the" has 3 continuations -> ln(1/3)<0
    assert(got(0L)._2 < 0L)
  }

  test("canonicalUrl: every documented rule, plus non-url inputs -> NULL") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val cases = Seq(
      // scheme+host lowercase, www strip, https default port, fragment
      "HtTpS://WWW.Example.COM:443/A/B/#frag" -> Some("https://example.com/A/B"),
      // http default port; path case PRESERVED; trailing slashes
      "http://Example.com:80/Keep/Case///" -> Some("http://example.com/Keep/Case"),
      // explicit non-default port kept; empty path -> /
      "https://example.com:8080" -> Some("https://example.com:8080/"),
      // tracking params dropped, rest sorted bytewise ('b=10' < 'b=2')
      "https://example.com/p?b=2&a=1&utm_source=x&gclid=1&b=10" ->
        Some("https://example.com/p?a=1&b=10&b=2"),
      // all params tracking -> '?' dropped entirely
      "https://example.com/p?utm_a=1&fbclid=2" -> Some("https://example.com/p"),
      // utm_ must be a PREFIX test, not a LIKE (utmx survives)
      "https://example.com/p?utmx=1" -> Some("https://example.com/p?utmx=1"),
      // non-urls gate to NULL
      "not a url" -> None, "" -> None)
    val got = cases.map(_._1).toDF("url")
      .select(col("url"), TextAnalysis.canonicalUrl(col("url")).as("c"))
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getString(1)))).toMap
    for ((u, want) <- cases) assert(got(u) === want, s"url <$u>")
  }

  test("removeBoilerplateLines: bans >maxDocs lines, reassembles byte-exact in order") {
    import spark.implicits._
    // 'common' is in 3 docs (> 2 = banned); 'twice' in 2 (kept);
    // doc 3 is all-boilerplate and must drop out entirely
    val docs = Seq(
      (0L, "alpha\ncommon\nbeta\ntwice"),
      (1L, "common\ngamma"),
      (2L, "twice\ndelta\ncommon\ndelta"),
      (3L, "common")).toDF("doc_id", "text")
    val got = TextAnalysis.removeBoilerplateLines(docs, "doc_id", "text", maxDocs = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(got === Map(
      0L -> ((3L, "alpha\nbeta\ntwice")),
      1L -> ((1L, "gamma")),
      2L -> ((3L, "twice\ndelta\ndelta"))))
  }

  test("piiScrub: ordered redaction + counts; IP inside an email never double-counts") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (0L, "mail a.b+c@sub.example.org and 192.168.1.10 call +1 555 0101 end"),
      // numeric-host "email": no alphabetic TLD, so the email rule
      // (deliberately) skips it and the IP rule redacts the host
      (1L, "root@10.0.0.1 stays one email"),
      (2L, "no pii here"),
      (3L, "two mails x@y.zz w@v.qq and 8.8.8.8")).toDF("doc_id", "text")
    val got = TextAnalysis.piiScrub(docs, "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4)))).toMap
    assert(got(0L) === (("mail <EMAIL> and <IP> call <PHONE> end", 1, 1, 1)))
    assert(got(1L) === (("root@<IP> stays one email", 0, 1, 0)))
    assert(got(2L) === (("no pii here", 0, 0, 0)))
    assert(got(3L) === (("two mails <EMAIL> <EMAIL> and <IP>", 2, 1, 0)))
  }

  test("split_assign: deterministic, well-mixed 80/10/10, sequential ids don't stripe") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val ids = (0L until 10000L).toDF("id")
    def splits() = ids
      .select(col("id"), graft.functions.split_assign(col("id"), Seq(80, 90), 42L).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = splits()
    assert(a === splits()) // reproducible
    val byS = a.values.groupBy(identity).map { case (k, v) => k -> v.size }
    assert(byS.keySet === Set(0L, 1L, 2L))
    assert(byS(0L) > 7700 && byS(0L) < 8300, byS.toString)
    assert(byS(1L) > 800 && byS(1L) < 1200, byS.toString)
    assert(byS(2L) > 800 && byS(2L) < 1200, byS.toString)
    // avalanche property: consecutive ids must not stripe into runs —
    // the count of adjacent-id pairs sharing a split should be near the
    // collision rate of independence (0.66), nowhere near 1.0
    val same = (0L until 9999L).count(i => a(i) == a(i + 1))
    assert(same < 7500, s"sequential ids stripe: $same/9999 adjacent pairs agree")
    // a different seed reassigns a nontrivial fraction
    val b = ids.select(col("id"),
        graft.functions.split_assign(col("id"), Seq(80, 90), 43L).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 10000L).count(i => a(i) != b(i)) > 1000)
  }

  test("hostCap keeps exactly min(k, n) per host, ranked by avalanche hash then id") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = (0L until 200L)
      .map(i => (i, s"https://host-${i % 7}.example/d/$i"))
      .toDF("doc_id", "url")
    val got = TextAnalysis.hostCap(docs, "url", "doc_id", k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byHost = got.groupBy(_._1)
    assert(byHost.keySet.size === 7)
    assert(byHost.values.forall(_.size == 3))
    // scalar twin of the selection rule, hashes read back from the engine
    val hashes = docs.select(col("doc_id"),
        graft.operators.Clump.avalanche31(col("doc_id")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((host, rows) <- byHost) {
      val ids = (0L until 200L).filter(i => s"host-${i % 7}" == host.split("\\.")(0))
      val want = ids.sortBy(i => (hashes(i), i)).take(3)
      assert(rows.sortBy(_._2.toInt).map(x => (x._2, x._3)).sortBy(_._1) ===
        want.zipWithIndex.map { case (id, i) => ((i + 1).toLong, id) }.sortBy(_._1),
        s"host $host")
    }
  }

  test("hostCap folds 64-bit ids into avalanche31's domain: ids >= 2^37 match the scalar rule") {
    import spark.implicits._
    // scalar twin of Clump.avalanche31 over the pmod(id, 2^31) fold
    def round(x: Long): Long = (((x >> 16) ^ x) * 73244475L) % 2147483648L
    def hash(id: Long): Long = {
      val x2 = round(round(java.lang.Math.floorMod(id, 2147483648L)))
      (x2 >> 16) ^ x2
    }
    val ids = (0L until 200L).map(i => (1L << 37) + i * 1000003L)
    val docs = ids.map(i => (i, s"https://host-${i % 7}.example/d/$i")).toDF("doc_id", "url")
    val got = TextAnalysis.hostCap(docs, "url", "doc_id", k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val want = ids.groupBy(i => s"host-${i % 7}.example").toSeq.flatMap { case (host, hs) =>
      hs.sortBy(i => (hash(i), i)).take(3).zipWithIndex.map { case (id, r) => (host, r + 1L, id) }
    }
    assert(got.sortBy(x => (x._1, x._2)).toSeq === want.sortBy(x => (x._1, x._2)))
  }

  test("removeBoilerplateLines: repeated line within ONE doc counts that doc once") {
    import spark.implicits._
    // 'x' appears 3 times in doc 0 but only in 2 DISTINCT docs -> kept
    val docs = Seq(
      (0L, "x\nx\nx"), (1L, "x\ny"), (2L, "z")).toDF("doc_id", "text")
    val got = TextAnalysis.removeBoilerplateLines(docs, "doc_id", "text", maxDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got === Map(0L -> "x\nx\nx", 1L -> "x\ny", 2L -> "z"))
  }
}
