package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._
  import TextAnalysis._

  test("tokenCount ignores extra whitespace") {
    val df = Seq("a  b   c", "").toDF("text")
    val got = df.select(tokenCount($"text")).collect().map(_.getInt(0)).toSeq
    assert(got == Seq(3, 0))
  }

  test("bigramLogProb: fluency-sensitive where unigrams are blind; short docs omitted") {
    // the salad doc carries the SAME token multiset as one fluent
    // repetition — a unigram model scores them identically; only the
    // bigram term separates them
    val fluent = (1 to 8).map(i => (i.toLong, "the cat sat on the mat"))
    val salad = Seq((100L, "mat the on sat cat the"))
    val short_ = Seq((200L, "one"), (201L, ""))
    val df = (fluent ++ salad ++ short_).toDF("doc_id", "text")
    val got = TextAnalysis.bigramLogProb(df, $"doc_id", $"text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(!got.contains(200L) && !got.contains(201L),
      "docs without a bigram position must be omitted")
    assert(got(1L) > got(100L),
      s"fluent ${got(1L)} must outscore word salad ${got(100L)}")
    assert(got(100L) < 0 && !got(100L).isNegInfinity)
  }

  test("collision sentinel: zero under xxhash64 on the fixture corpus " +
      "(scorers run), detects and fails loud under a colliding hash") {
    val docs = graft.Graft.table(spark, sf, "documents")
      .select($"doc_id", $"text")
    // the real key function is provably collision-free on this corpus
    assert(TextAnalysis.hashedVocabCollisions(docs, $"text") == 0L)
    // the detection path, proven with a deliberately weak hash (a
    // genuine xxhash64 collision is not constructible on demand):
    // token length collides e.g. "cat"/"sat"
    val df = Seq((1L, "the cat sat on the mat")).toDF("doc_id", "text")
    assert(TextAnalysis.hashedVocabCollisions(df, $"text",
      t => length(t).cast("long")) > 0L)
    // the guard throws with the remediation named (via the same weak
    // hash — the scorers wire it with xxhash64 by default)
    val e = intercept[IllegalStateException] {
      TextAnalysis.requireCollisionFreeVocab("unigramLogProb", df,
        $"text", sentinel = true, hash = t => length(t).cast("long"))
    }
    assert(e.getMessage.contains("collision") &&
      e.getMessage.contains("sentinel = false"), e.getMessage)
    // on by default: a zero-collision corpus runs; sentinel=false
    // skips the extra pass and also runs
    assert(TextAnalysis.unigramLogProb(df, $"doc_id", $"text").count() == 1)
    assert(TextAnalysis.unigramLogProb(df, $"doc_id", $"text",
      sentinel = false).count() == 1)
  }

  test("stripHtml drops script/style/comments/tags and decodes entities") {
    val html = """<html><head><style>body{x:1}</style>
      |<script>if (a<b && c>d) alert("hi");</script></head>
      |<body><!-- note --><p id="p1">Hello <b>world</b></p>
      |&amp;lt; stays escaped; &lt;em&gt; decodes; a&nbsp;b &#39;q&#39;
      |</body></html>""".stripMargin
    val got = Seq(html).toDF("h").select(stripHtml($"h")).as[String].head()
    assert(got ==
      "Hello world &lt; stays escaped; <em> decodes; a b 'q'", got)
    // null propagates; plain text unchanged beyond whitespace squash
    val more = Seq(Option("  just   text  "), None).toDF("h")
      .select(stripHtml($"h")).collect()
    assert(more(0).getString(0) == "just text" && more(1).isNullAt(0))
  }

  test("hashEmbedding: deterministic, count-sensitive, unit-norm, zero for empty") {
    val df = Seq(
      (1L, "spark rows spark"), (2L, "spark rows spark"),
      (3L, "rows spark"), (4L, ""), (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val vecs = TextAnalysis.hashEmbedding(df, $"doc_id", $"text", dim = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(vecs.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(vecs(1L) == vecs(2L), "identical texts must embed identically")
    assert(vecs(1L) != vecs(3L), "token counts must matter (2x spark vs 1x)")
    assert(vecs(4L).forall(_ == 0.0) && vecs(5L).forall(_ == 0.0))
    val norm = math.sqrt(vecs(1L).map(x => x * x).sum)
    assert(math.abs(norm - 1.0) < 1e-12, s"norm $norm")
    // feeds the similarity stack: the identical pair is cosine 1.0
    val emb = TextAnalysis.hashEmbedding(df.filter($"doc_id" <= 3),
      $"doc_id", $"text", dim = 8)
    val top = Similarity.bruteForceTopK(emb, $"doc_id", $"embedding",
        emb.filter($"doc_id" === 1L), $"doc_id", $"embedding", k = 1)
      .collect().head
    assert(top.getLong(1) == 2L && top.getDouble(2) == 1.0)
  }

  test("canonicalUrl: case, default ports, params, fragments, empty path") {
    val cases = Seq(
      "HTTP://Example.COM:80/a?b=2&a=1#x" -> "http://example.com/a?a=1&b=2",
      "https://Host.io:443/" -> "https://host.io/",
      "https://host.io:8443/x" -> "https://host.io:8443/x", // non-default port kept
      "http://h" -> "http://h/",                            // empty path roots
      "ftp://H/p?z=1" -> "ftp://h/p?z=1",                   // unknown scheme: port rules only for http(s)
      "http://h/p#only-frag" -> "http://h/p"
    )
    val got = cases.map(_._1).toDF("u")
      .select(canonicalUrl($"u")).as[String].collect().toSeq
    assert(got == cases.map(_._2), got.mkString(","))
    val n = Seq(Option.empty[String]).toDF("u").select(canonicalUrl($"u")).collect()
    assert(n(0).isNullAt(0))
  }

  test("winnowing: docs sharing a long substring share a fingerprint") {
    // guarantee: a common run of >= window + shingleN - 1 tokens (here
    // 4 + 3 - 1 = 6) forces a shared window minimum
    val common = "alpha beta gamma delta epsilon zeta"
    val df = Seq(
      (1L, s"one two $common three four five six seven"),
      (2L, s"x1 y1 z1 w1 $common x2 y2 z2 w2"),
      (3L, "totally different words entirely here now ok then")
    ).toDF("doc_id", "text")
    val fps = TextAnalysis.winnowingFingerprints(df, $"doc_id", $"text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((fps(1L) & fps(2L)).nonEmpty, "shared substring lost")
    assert((fps(1L) & fps(3L)).isEmpty && (fps(2L) & fps(3L)).isEmpty)
    // short doc (< window shingles) still fingerprints
    val short = Seq((9L, "just three words")).toDF("doc_id", "text")
    assert(TextAnalysis.winnowingFingerprints(short, $"doc_id", $"text")
      .count() == 1)
  }

  test("contaminationReport flags test docs sharing long runs with train") {
    val common = "alpha beta gamma delta epsilon zeta eta theta"
    val train = Seq(
      (1L, s"intro words $common closing words here now"),
      (2L, "unrelated training material about other topics entirely")
    ).toDF("doc_id", "text")
    val test = Seq(
      (10L, s"different frame $common and a distinct tail section"),
      (11L, "completely novel held out evaluation content only")
    ).toDF("doc_id", "text")
    val rep = TextAnalysis.contaminationReport(
        test, $"doc_id", $"text", train, $"doc_id", $"text",
        shingleN = 3, window = 4, threshold = 0.2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getBoolean(4))).toMap
    assert(rep(10L)._1 > 0 && rep(10L)._2,
      s"contaminated doc not flagged: $rep")
    assert(rep(11L)._1 == 0 && !rep(11L)._2,
      s"clean doc flagged: $rep")
  }

  test("langId labels null text null, not the last language code") {
    import spark.implicits._
    val got = Seq((1L, Option("the cat and the dog")),
      (2L, None: Option[String]))
      .toDF("id", "text")
      .select($"id", TextAnalysis.langId($"text").as("lang"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got(1L).contains("en"))
    assert(got(2L).isEmpty, "null doc must not be confidently labeled")
  }

  test("langId picks the language with most stopword hits") {
    val df = Seq(
      "the cat and the dog in the house",
      "der hund und die katze ist ein tier",
      "el perro y la casa es un gato").toDF("text")
    val got = df.select(langId($"text")).collect().map(_.getString(0)).toSeq
    assert(got == Seq("en", "de", "es"))
  }

  test("langId returns null for zero-evidence docs, not a confident argmax") {
    // regression: '12345 !!!' scored 0 in every language and the
    // struct tie-break confidently returned the lexicographically-
    // last language
    val got = Seq("12345 !!!", "qqq zzz www", "the cat and the dog")
      .toDF("text")
      .select(langId($"text")).collect().map(r => Option(r.getString(0)))
    assert(got(0).isEmpty && got(1).isEmpty && got(2).contains("en"))
  }

  test("qualityMetrics counts sentence-initial and punct-adjacent stopwords") {
    // regression: raw whitespace tokens never matched "The" or
    // "the," against the lowercase stopword list
    val df = Seq("The cat sat on the mat.").toDF("text")
    val m = df.select(qualityMetrics($"text").as("m")).select("m.*")
      .collect().head
    // normalized hits: The, the -> 2 of 6 whitespace tokens (the old
    // raw-token match found only the bare lowercase "the": 1 of 6)
    assert(m.getAs[Double]("stopword_ratio") == 0.3333, m.toString)
  }

  test("winnowing emits nothing for whitespace-only docs") {
    // regression: token-free text shingled to [""], so two blank
    // docs shared the md5("") fingerprint — contaminationReport
    // flagged a blank test doc as 100% contaminated
    val df = Seq((1L, "  \n\t "), (2L, "real words here man")).toDF("id", "t")
    val fps = TextAnalysis.winnowingFingerprints(df, $"id", $"t")
      .collect().map(_.getLong(0)).toSet
    assert(fps == Set(2L))
  }

  test("fingerprint is whitespace/case insensitive") {
    val df = Seq(("A  b\tC", "a b c")).toDF("x", "y")
    val r = df.select(fingerprint($"x").as("fx"), fingerprint($"y").as("fy"))
      .collect().head
    assert(r.getString(0) == r.getString(1))
  }

  test("qualityMetrics ratios") {
    val df = Seq("the cat!!").toDF("text")
    val m = df.select(qualityMetrics($"text").as("m")).select("m.*").collect().head
    assert(m.getAs[Int]("n_chars") == 9)
    assert(m.getAs[Int]("n_tokens") == 2)
    assert(m.getAs[Double]("punct_ratio") == 0.2222)   // 2 of 9
    assert(m.getAs[Double]("stopword_ratio") == 0.5)   // "the"
  }

  test("scrubPii redacts emails, IPv4s and phones with typed tags") {
    val df = Seq(
      "mail a.b-c@ex-y.co.uk or 10.2.3.44 call 555-123-4567 now",
      "two mails x@y.io z@w.dev one ip 1.2.3.4",
      "no pii here at all").toDF("text")
    val got = df.select(scrubPii($"text").as("p")).select("p.*")
      .as[(String, Int, Int, Int)].collect().toSeq
    assert(got == Seq(
      ("mail <EMAIL> or <IP> call <PHONE> now", 1, 1, 1),
      ("two mails <EMAIL> <EMAIL> one ip <IP>", 2, 1, 0),
      ("no pii here at all", 0, 0, 0)))
  }

  test("scrubPii: an email whose domain looks like an IP is one email") {
    // email runs first, so the dotted-quad inside the address is
    // consumed by the <EMAIL> tag; the raw-text counters still count
    // both patterns independently (documented semantics)
    val df = Seq("root@10.0.0.1 logged in").toDF("text")
    val r = df.select(scrubPii($"text").as("p")).select("p.*")
      .as[(String, Int, Int, Int)].collect().head
    assert(r._1 == "<EMAIL> logged in")
    assert(r._2 == 1 && r._3 == 1)
  }

  test("scrubPii redacts the whole address when an IP prefixes the domain") {
    // the general-domain branch must win over the dotted-quad branch
    // (leftmost-first alternation): a quad-led match would stop after
    // '1.2.3.4' and leak '.example.org'
    val df = Seq("mail bob@1.2.3.4.example.org end").toDF("text")
    val r = df.select(scrubPii($"text").as("p")).select("p.*")
      .as[(String, Int, Int, Int)].collect().head
    assert(r._1 == "mail <EMAIL> end")
  }

  test("scrubPii propagates null text as null fields") {
    val df = Seq(Option.empty[String]).toDF("text")
    val r = df.select(scrubPii($"text").as("p")).select("p.*").collect().head
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3))
  }

  test("repetitionReport computes hand-checked fractions") {
    val df = Seq((1L, "aa aa aa b")).toDF("doc_id", "text")
    val r = repetitionReport(df, $"doc_id", $"text", n = 2)
      .as[(Long, Long, Double, Double, String, Long, Double)]
      .collect().head
    // tokens: aa x3, b x1 -> 4 occurrences, 2 distinct
    assert(r._2 == 4L)
    assert(r._3 == 0.5)   // (4 - 2) / 4
    // chars: repeats (3-1)*2 = 4 of total 3*2 + 1*1 = 7
    assert(r._4 == math.round(4.0 / 7 * 10000) / 10000.0)
    // bigrams: "aa aa" x2, "aa b" x1; covered chars 2*4 of 7
    assert(r._5 == "aa aa" && r._6 == 2L)
    assert(r._7 == math.round(8.0 / 7 * 10000) / 10000.0)
  }

  test("repetitionReport ties break to the lexicographically larger gram") {
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    val r = repetitionReport(df, $"doc_id", $"text", n = 2)
      .select("top_ngram", "top_ngram_cnt").as[(String, Long)].collect().head
    assert(r == ("b c", 1L))
  }

  test("repetitionReport excludes null-text and token-free docs") {
    val df = Seq((1L, Some("x y")), (2L, None), (3L, Some("   ")))
      .toDF("doc_id", "text")
    val ids = repetitionReport(df, $"doc_id", $"text")
      .select("doc_id").as[Long].collect().toSeq
    assert(ids == Seq(1L))
  }

  test("chunkByTokens: hand-checked windows, full coverage, overlap") {
    val df = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val got = chunkByTokens(df, $"doc_id", $"text", chunkSize = 3, stride = 2)
      .orderBy($"chunk_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    // the second window reaches the doc end, so chunking stops there
    // (no redundant trailing "e" chunk fully inside its predecessor)
    assert(got == Seq(
      (1L, 0L, 3L, "a b c"),
      (1L, 1L, 3L, "c d e")))
  }

  test("chunkByTokens emits one chunk for short docs, none redundant") {
    // 16 tokens, chunkSize 20, stride 15: a start at 15 would be
    // fully covered by chunk 0 — must not be emitted
    val text = (0 until 16).map(i => s"t$i").mkString(" ")
    val df = Seq((1L, text)).toDF("doc_id", "text")
    val got = chunkByTokens(df, $"doc_id", $"text", chunkSize = 20,
      stride = 15).as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq((1L, 0L, 16L, text)))
  }

  test("chunkByTokens covers every token and bounds chunk length") {
    val text = (0 until 103).map(i => s"t$i").mkString(" ")
    val df = Seq((7L, text)).toDF("doc_id", "text")
    val chunks = chunkByTokens(df, $"doc_id", $"text", chunkSize = 20,
        stride = 15)
      .as[(Long, Long, Long, String)].collect()
    assert(chunks.forall(_._3 <= 20))
    // stride 15 over 103 tokens -> ceil(103/15) = 7 chunks
    assert(chunks.length == 7, chunks.map(_._2).mkString(","))
    val covered = chunks.flatMap(_._4.split(" ")).toSet
    assert(covered == (0 until 103).map(i => s"t$i").toSet)
    // stride < size: consecutive chunks share tokens
    val c0 = chunks.find(_._2 == 0).get._4.split(" ").toSet
    val c1 = chunks.find(_._2 == 1).get._4.split(" ").toSet
    assert((c0 & c1).size == 5)
  }

  test("chunkByTokens carries document columns onto every chunk") {
    val df = Seq((1L, "en", "a b c d e"), (2L, "de", "x y"))
      .toDF("doc_id", "lang", "text")
    val got = chunkByTokens(df, $"doc_id", $"text", chunkSize = 3,
        stride = 2, carry = Seq("lang"))
      .select("doc_id", "lang", "chunk_id")
      .as[(Long, String, Long)].collect().toSet
    assert(got == Set((1L, "en", 0L), (1L, "en", 1L), (2L, "de", 0L)))
    intercept[IllegalArgumentException] {
      chunkByTokens(df, $"doc_id", $"text", 3, 2, carry = Seq("chunk_id"))
    }
  }

  test("chunkByTokens excludes null-text and token-free docs, validates args") {
    val df = Seq((1L, Some("x")), (2L, None), (3L, Some(" ")))
      .toDF("doc_id", "text")
    val got = chunkByTokens(df, $"doc_id", $"text", chunkSize = 2, stride = 1)
      .select("doc_id").as[Long].collect().toSeq
    assert(got == Seq(1L))
    intercept[IllegalArgumentException] {
      chunkByTokens(df, $"doc_id", $"text", chunkSize = 2, stride = 3)
    }
  }

  test("tokenDupStats equals repetitionReport's unigram columns") {
    val df = Seq((1L, "aa aa aa b"), (2L, "x y z"), (3L, "m m"))
      .toDF("doc_id", "text")
    val cheap = tokenDupStats(df, $"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet
    val full = repetitionReport(df, $"doc_id", $"text")
      .select("doc_id", "n_tokens", "dup_token_frac", "dup_token_char_frac")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet
    assert(cheap == full)
  }

  test("unigramLogProb scores docs by corpus-trained token probabilities") {
    // corpus: a×3, b×2, c×1 → total 6; P(a)=1/2, P(b)=1/3, P(c)=1/6
    val df = Seq((1L, "a a b"), (2L, "a b c"), (3L, ""),
      (4L, null.asInstanceOf[String])).toDF("id", "text")
    val got = unigramLogProb(df, $"id", $"text")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.map(_._1).toSeq == Seq(1L, 2L), "empty/null docs absent")
    assert(got(0)._2 == 3L)
    assert(got(0)._3 == r4((2 * math.log(3.0 / 6) + math.log(2.0 / 6)) / 3),
      "doc 1 = (2·ln P(a) + ln P(b)) / 3")
    assert(got(1)._3 == r4(
      (math.log(3.0 / 6) + math.log(2.0 / 6) + math.log(1.0 / 6)) / 3))
    // the all-common-tokens doc outranks the rare-token doc
    assert(got(0)._3 > got(1)._3)
  }

  test("repetitionReport: a no-repetition doc scores zero") {
    val df = Seq((7L, "one two three four")).toDF("doc_id", "text")
    val r = repetitionReport(df, $"doc_id", $"text", n = 2)
      .as[(Long, Long, Double, Double, String, Long, Double)]
      .collect().head
    assert(r._3 == 0.0 && r._4 == 0.0)
    assert(r._6 == 1L) // every bigram unique; deterministic pick
    assert(r._5 == "two three") // lexicographically largest of the 3
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._
  import Dedup._

  test("lshCandidates fails loudly when bands exceed the signature length") {
    // regression: the guard once lived in a projected-then-dropped
    // assert_true column, which column pruning removed — the
    // degenerate all-docs-in-one-bucket case ran without error
    val sigs = Seq((1L, Array(11L, 22L)), (2L, Array(33L, 44L)))
      .toDF("doc_id", "sig")
    val e = intercept[Exception] { lshCandidates(sigs, bands = 8).count() }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("exceeds the signature length"), msgs)
  }

  test("shingles produce distinct word n-grams; short docs collapse") {
    val df = Seq("a b c d", "x y").toDF("text")
    val got = df.select(shingles($"text", 3)).collect().map(_.getSeq[String](0).toSet)
    assert(got(0) == Set("a b c", "b c d"))
    assert(got(1) == Set("x y"))
  }

  test("null-text docs are not a duplicate class: all pass exactDedup") {
    import spark.implicits._
    val df = Seq((1L, Option("same")), (2L, Option("same")),
      (3L, None: Option[String]), (4L, None: Option[String]))
      .toDF("doc_id", "text")
    // dedup keeps one of the "same" pair; BOTH null-text rows survive
    // (no content to compare — they are not duplicates of each other)
    val kept = exactDedup(df, $"doc_id", $"text")
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L), kept.toString)
    // and the class report covers comparable docs only
    val classes = exactDupClasses(df, $"doc_id", $"text").collect()
    assert(classes.length == 1 && classes.head.getLong(1) == 1L &&
      classes.head.getLong(2) == 2L)
  }

  test("null-text rows with NULL ids also all pass exactDedup (no silent drop)") {
    import spark.implicits._
    // regression: the null-fingerprint salt concat'd the id, and a
    // null id made the salt itself null — every null-text+null-id
    // row collapsed into one window partition and all but one were
    // silently dropped
    val df = Seq((Option(1L), Option("same")), (Option(2L), Option("same")),
      (None: Option[Long], None: Option[String]),
      (None: Option[Long], None: Option[String]),
      (None: Option[Long], None: Option[String]))
      .toDF("doc_id", "text")
    val kept = exactDedup(df, $"doc_id", $"text").collect()
    assert(kept.length == 4, s"expected 1 survivor + 3 null rows, got " +
      s"${kept.length}: ${kept.mkString(";")}")
    assert(kept.count(_.isNullAt(0)) == 3)
  }

  test("minhashNearDups rejects band counts that break the LSH contract") {
    import spark.implicits._
    val df = Seq((1L, "a b c d")).toDF("doc_id", "text")
    // bands > numHashes: every slice empty (all docs one bucket)
    intercept[IllegalArgumentException] {
      minhashNearDups(df, $"doc_id", $"text", 3, 16, 32, 0.5)
    }
    // non-divisor bands: trailing hashes silently ignored
    intercept[IllegalArgumentException] {
      minhashNearDups(df, $"doc_id", $"text", 3, 32, 6, 0.5)
    }
  }

  test("exactDedup keeps exactly one row per duplicate class, min id") {
    val df = Seq((3L, "dup text"), (1L, "dup  TEXT"), (2L, "unique")).toDF("id", "text")
    val got = exactDedup(df, $"id", $"text").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L))
  }

  test("exactDedup preserves user columns named like its scratch names") {
    // regression: hardcoded __fpn/__rn scratch columns were silently
    // replaced by withColumn and then dropped — deleting user data
    val df = Seq((3L, "dup text", "keep3"), (1L, "dup  TEXT", "keep1"),
        (2L, "unique", "keep2"))
      .toDF("id", "text", "__ded_rn")
    val kept = exactDedup(df, $"id", $"text")
    assert(kept.columns.toSeq == Seq("id", "text", "__ded_rn"))
    assert(kept.select("__ded_rn").as[String].collect().toSet ==
      Set("keep1", "keep2"))
  }

  test("segmentDedup keeps each segment's first (doc, idx) occurrence") {
    // 2-token segments: doc 1 = ["a b", "c d"]; doc 2 repeats "a b"
    // twice (second copy loses to the first IN the same doc) and adds
    // a fresh segment; doc 3 is entirely duplicated away
    val df = Seq(
      (1L, "a b c d"),
      (2L, "a b a b x y"),
      (3L, "c d"),
      (4L, null.asInstanceOf[String]),
      (5L, "   ")).toDF("id", "text")
    val got = segmentDedup(df, $"id", $"text", segTokens = 2)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L),
      "null/token-free docs are absent")
    assert(got(0) == ((1L, 2L, 2L, "a b c d")), "doc 1 keeps everything")
    assert(got(1) == ((2L, 3L, 1L, "x y")),
      "both 'a b' copies lose to doc 1's; only the fresh segment stays")
    assert(got(2) == ((3L, 1L, 0L, null)), "fully-duplicated doc: null text")
  }

  test("segmentDedup short trailing segment dedupes independently") {
    // doc 1's trailing 1-token segment "c" equals doc 2's full text
    val df = Seq((1L, "a b c"), (2L, "c")).toDF("id", "text")
    val got = segmentDedup(df, $"id", $"text", segTokens = 2)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(got(0) == ((1L, 2L, 2L, "a b c")))
    assert(got(1) == ((2L, 1L, 0L, null)),
      "doc 2's only segment was already seen as doc 1's tail")
  }

  test("minhashNearDups finds a seeded near-duplicate pair") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val near = ((1 to 28).map(i => s"w$i") ++ Seq("zz", "qq")).mkString(" ")
    val far = (100 to 130).map(i => s"v$i").mkString(" ")
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("id", "text")
    val pairs = minhashNearDups(df, $"id", $"text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("ngramJaccardPairs matches hand-computed jaccard") {
    val df = Seq((1L, "a b c d e"), (2L, "a b c d x"), (3L, "p q r s t")).toDF("id", "text")
    // shingles(3): doc1 {abc,bcd,cde}, doc2 {abc,bcd,cdx}: inter 2, union 4 -> 0.5
    val got = ngramJaccardPairs(df, $"id", $"text", threshold = 0.5).collect()
    assert(got.length == 1)
    assert((got.head.getLong(0), got.head.getLong(1), got.head.getDouble(2)) == (1L, 2L, 0.5))
  }

  test("simhashSignatures keeps zero-token docs with sig=0") {
    val df = Seq((1L, "hello world"), (2L, "!!! ---")).toDF("id", "text")
    val sigs = simhashSignatures(df, $"id", $"text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs.keySet == Set(1L, 2L))
    assert(sigs(2L) == 0L)
  }

  test("simhash of identical docs is identical; near docs within hamming") {
    val df = Seq("the quick brown fox jumps", "the quick brown fox jumps")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val sigs = df.select(simhash64($"text")).collect().map(_.getLong(0))
    assert(sigs(0) == sigs(1))
    val pairs = simhashNearDups(df, $"id", $"text", maxHamming = 0).collect()
    assert(pairs.length == 1 && pairs.head.getInt(2) == 0)
  }

  test("simhash blocking recall is exactly 1.0 at any radius <= 63 (pigeonhole chunks)") {
    intercept[IllegalArgumentException] {
      simhashNearDups(graft.Graft.table(spark, sf, "documents"),
        col("doc_id"), col("text"), maxHamming = 64).count()
    }
    // the validator compares chunk-blocked pairs against the exact
    // O(n²) hamming join on real docs; maxHamming+1 chunks guarantee
    // recall 1.0 regardless of radius (the old fixed 4-chunk split
    // only guaranteed radius <= 3)
    val docs = graft.Graft.table(spark, sf, "documents")
    for (radius <- Seq(3, 4, 12, 25)) {
      val r = simhashValidate(docs, col("doc_id"), col("text"), radius)
        .collect().head
      assert(r.getLong(0) == 0L, s"radius=$radius missed ${r.getLong(0)} pairs")
      assert(r.getLong(1) == 0L, s"radius=$radius extra ${r.getLong(1)} pairs")
      assert(r.getDouble(2) == 1.0)
      // radius 4 is the graded q_simhash operating point — the
      // witness must be non-vacuous there (seeded near-dups sit at
      // hamming <= 5 on the shared sf0.001/sf0.01 corpus)
      if (radius >= 4) assert(r.getBoolean(3), "witness vacuous: no pairs in radius")
    }
  }

  test("simhash oversized buckets sub-block instead of dropping (cap-independent pair set)") {
    // SimHash bits are biased by shared tokens, so real corpora
    // overflow chunk buckets (measured: 6.5k docs in one 13-bit
    // bucket at 50k docs — sf1's q_simhash recall regression when
    // over-cap buckets were dropped). The cap must only route: with
    // maxBucket=2 almost every bucket takes the remaining-bits
    // sub-block path, and the pair set must EQUAL the effectively
    // uncapped run — recall 1.0 is cap-independent by pigeonhole on
    // the remaining bits.
    val docs = graft.Graft.table(spark, sf, "documents").limit(300)
    def pairs(cap: Int) =
      simhashNearDups(docs, col("doc_id"), col("text"),
        maxHamming = 4, maxBucket = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val tiny = pairs(2)
    val roomy = pairs(1 << 20)
    assert(tiny == roomy,
      s"sub-blocked pair set diverges: only-tiny=${(tiny -- roomy).take(5)} " +
        s"only-roomy=${(roomy -- tiny).take(5)}")
    assert(roomy.nonEmpty, "vacuous: corpus has no pairs in radius")
  }

  test("minhash bands=numHashes + exact rerank equals the exact jaccard pair set") {
    // the q_minhash_lsh oracle contract: with one hash row per band,
    // candidates cover every pair sharing any min value, and the
    // exact rerank then reproduces ngramJaccardPairs exactly
    val docs = graft.Graft.table(spark, sf, "documents")
    // precondition of the equality: the oracle's maxDf prune (df >
    // 1000) must never fire on the graded corpus, or the two jaccard
    // definitions diverge — check it rather than assume it
    val maxDf = docs
      .select(explode(shingles(col("text"), 3)).as("s"), col("doc_id"))
      .groupBy(col("s")).agg(countDistinct(col("doc_id")).as("df"))
      .agg(max(col("df"))).collect().head.getLong(0)
    assert(maxDf <= 1000, s"stopword shingle df=$maxDf would split the oracles")
    // second precondition: the rerank and the inverted index key on
    // xxhash64'd shingles — a 64-bit collision between two distinct
    // shingles of a corpus would skew an intersection count. Pin zero
    // collisions on EVERY graded corpus: this spec's sf0.001
    // documents are sf0.01's (the correctness corpus), and sf0.1 is
    // the second verify target + the bench corpus.
    for (corpus <- Seq(sf, "/root/testdata/sf0.1")) {
      val (nStr, nHash) = graft.Graft.table(spark, corpus, "documents")
        .select(explode(shinglesRaw(col("text"), 3)).as("s"))
        .agg(countDistinct(col("s")), countDistinct(xxhash64(col("s"))))
        .collect().map(r => (r.getLong(0), r.getLong(1))).head
      assert(nStr == nHash,
        s"$corpus shingle hash collision: $nStr strings -> $nHash hashes")
    }
    val lsh = minhashNearDups(docs, col("doc_id"), col("text"),
        shingleN = 3, numHashes = 32, bands = 32, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = ngramJaccardPairs(docs, col("doc_id"), col("text"),
        shingleN = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lsh == exact, s"only-lsh=${lsh -- exact} only-exact=${exact -- lsh}")
    assert(exact.nonEmpty)
  }

  test("nearDupDedup keeps one representative per transitive class") {
    // 1≈2≈3 form one class (chain), 10 is untouched by any pair
    val df = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g x"),   // near 1
      (3L, "a b c d e f g y"),   // near 1 and 2
      (10L, "totally different content here entirely")
    ).toDF("doc_id", "text")
    val kept = nearDupDedup(df, $"doc_id", $"text", shingleN = 2,
        threshold = 0.4)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 10L), kept.toString)
    // a caller's own class_rep / __cc columns survive untouched
    val withClash = df.withColumn("class_rep", lit("mine"))
      .withColumn("__cc_id", lit(7))
    val out = nearDupDedup(withClash, $"doc_id", $"text", shingleN = 2,
      threshold = 0.4)
    assert(out.columns.toSeq == withClash.columns.toSeq)
    assert(out.select("class_rep").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("mine"))
  }

  test("connectedComponents closes transitive duplicate chains") {
    // two components: a 4-node CHAIN 1-2-3-4 (diameter 3 — a single
    // propagation round would NOT finish) and a pair 10-11;
    // node 99 appears in no pair and must not appear in the output
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents survives an adversarial 2^20-edge decreasing chain") {
    // chain edges (k, k+1) inserted in DECREASING endpoint order
    // build a parent chain of depth 2^20 in the driver union-find;
    // the output pass then walks it from the deep end. A recursive
    // path-compressing find overflows the default JVM stack on
    // exactly this shape — the iterative path-halving find must not.
    val n = 1 << 20 // == the default smallGraphEdges cap: small path taken
    val pairs = spark.range(n).select(
      (lit(n.toLong - 1) - col("id")).as("id_a"),
      (lit(n.toLong) - col("id")).as("id_b"))
    val got = Dedup.connectedComponents(pairs)
    assert(got.count() == n + 1)
    assert(got.select("class_rep").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(0L))
  }

  test("exact pair joins fail loud past maxCandidates (pre-flight guard)") {
    // blocking-saturated corpus: every doc is the same text, so every
    // shingle's document frequency is the corpus size and the
    // candidate bound is shingles x C(40, 2) — far past a cap of 10
    val df = (1 to 40).map(i =>
      (i.toLong, "alpha beta gamma delta epsilon zeta")).toDF("id", "text")
    val e1 = intercept[IllegalStateException] {
      ngramJaccardPairs(df, $"id", $"text", threshold = 0.3,
        maxCandidates = 10)
    }
    assert(e1.getMessage.contains("maxCandidates = 10"))
    assert(e1.getMessage.contains("blockingStats"))
    // all four blocking paths enforce the same pre-flight
    intercept[IllegalStateException] {
      prefixJaccardPairs(df, $"id", $"text", threshold = 0.9,
        maxCandidates = 10)
    }
    intercept[IllegalStateException] {
      containmentPairs(df, $"id", $"text", threshold = 0.5,
        maxCandidates = 10)
    }
    intercept[IllegalStateException] {
      prefixContainmentPairs(df, $"id", $"text", threshold = 0.8,
        maxCandidates = 10)
    }
    // the routed entry point guards too (delegation threads the cap)
    intercept[IllegalStateException] {
      ngramJaccardPairs(df, $"id", $"text", threshold = 0.9,
        maxCandidates = 10)
    }
    // explicit unguarded override (maxCandidates <= 0) still runs
    assert(ngramJaccardPairs(df, $"id", $"text", threshold = 0.3,
      maxCandidates = 0).count() == 40L * 39 / 2)
    // an unsaturated corpus under the cap is untouched by the guard:
    // every operator returns the same pair set guarded (the default
    // cap, which pins its index and runs the pre-flight) as unguarded
    val clean = Seq((1L, "one two three four five six"),
      (2L, "one two three four five seven"),
      (3L, "one two three four eight nine ten eleven"),
      (4L, "six seven eight nine"), (5L, "eight nine ten eleven"))
      .toDF("id", "text")
    val operators: Seq[(String, Long => DataFrame)] = Seq(
      "ngramJaccardPairs t=0.3 (general form)" -> (cap =>
        ngramJaccardPairs(clean, $"id", $"text", threshold = 0.3,
          maxCandidates = cap)),
      "prefixJaccardPairs t=0.5" -> (cap =>
        prefixJaccardPairs(clean, $"id", $"text", threshold = 0.5,
          maxCandidates = cap)),
      "containmentPairs t=0.5 (general form)" -> (cap =>
        containmentPairs(clean, $"id", $"text", threshold = 0.5,
          maxCandidates = cap)),
      "prefixContainmentPairs t=0.8" -> (cap =>
        prefixContainmentPairs(clean, $"id", $"text", threshold = 0.8,
          maxCandidates = cap)),
      "minhashNearDups" -> (cap =>
        minhashNearDups(clean, $"id", $"text", numHashes = 16, bands = 16,
          threshold = 0.5, maxCandidates = cap)))
    for ((name, op) <- operators) {
      def pairs(cap: Long) = op(cap).collect().map(_.toSeq).toSet
      val unguarded = pairs(0L)
      assert(unguarded.nonEmpty, name)
      assert(pairs(defaultMaxCandidates) == unguarded, name)
    }
  }

  test("minhashNearDups pre-flight: candidate cap, rerank-bytes budget") {
    val df = (1 to 40).map(i =>
      (i.toLong, "alpha beta gamma delta epsilon zeta")).toDF("id", "text")
    // gate 1 (family contract): identical docs share every band
    // bucket — bound C(40, 2) x bands, far past a cap of 10
    val e1 = intercept[IllegalStateException] {
      Dedup.minhashNearDups(df, $"id", $"text", maxCandidates = 10)
    }
    assert(e1.getMessage.contains("minhashNearDups pre-flight"))
    assert(e1.getMessage.contains("maxCandidates = 10"))
    // gate 2 (the disk gate): a budget of 1 byte trips on any
    // candidate mass; the message prescribes wider bands (r >= 2)
    val e2 = intercept[IllegalStateException] {
      Dedup.minhashNearDups(df, $"id", $"text", rerankBudgetBytes = 1L)
    }
    assert(e2.getMessage.contains("rerank shuffle"))
    assert(e2.getMessage.contains("bands = numHashes / 2"))
    // explicit unguarded override still runs, and the guard does not
    // move results: guarded == unguarded on a clean corpus
    val clean = Seq((1L, "one two three four five six seven"),
      (2L, "one two three four five six eight"),
      (3L, "nine ten eleven twelve thirteen fourteen fifteen"))
      .toDF("id", "text")
    def pairs(cap: Long) = Dedup.minhashNearDups(clean, $"id", $"text",
        shingleN = 3, numHashes = 16, bands = 16, threshold = 0.5,
        maxCandidates = cap)
      .select("id_a", "id_b").collect().map(r =>
        (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(Dedup.defaultMaxCandidates) == pairs(0L))
    assert(pairs(0L).contains((1L, 2L)))
  }

  test("skew-guard drops surface as observed metrics, not silently") {
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.apache.spark.sql.execution.QueryExecution
    val seen = new scala.collection.concurrent.TrieMap[String, org.apache.spark.sql.Row]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        qe.observedMetrics.foreach { case (n, row) => seen(n) = row }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val aqePrev = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // Spark 4.1 caveat (documented on boundedGroupPairs): AQE's
      // re-planned query stages are not traversed by
      // QueryExecution.observedMetrics for mid-plan observations, so
      // the delivery contract holds with AQE off (and in streaming,
      // where AQE is disabled for stateful queries)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val common = "alpha beta gamma"
      val df = (1 to 20).map(i => (i.toLong, s"$common w$i x$i y$i")).toDF("id", "text")
      ngramJaccardPairs(df, $"id", $"text", shingleN = 3,
        threshold = 0.01, maxDf = 10).collect()
      // listener delivery is asynchronous, and a late event from an
      // earlier test's ngramJaccardPairs could also match the name
      // prefix — poll until THIS query's metric content arrives: the
      // 20 rows of the hot 'alpha beta gamma' shingle were dropped
      val deadline = System.nanoTime() + 10_000_000_000L
      var m = Option.empty[org.apache.spark.sql.Row]
      while (m.isEmpty && System.nanoTime() < deadline) {
        m = seen.collectFirst {
          case (k, r) if k.startsWith("graft.ngram_shingles.") &&
            r.getAs[Long]("rows_in_dropped_groups") == 20L => r
        }
        if (m.isEmpty) Thread.sleep(50)
      }
      assert(m.isDefined,
        s"no ngram_shingles metric with 20 dropped rows in $seen")
      assert(m.get.getAs[Long]("max_group") == 20L, m.get.toString)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqePrev)
      spark.listenerManager.unregister(listener)
    }
  }

  test("oversized groups are dropped before buffering (skew guard)") {
    // a corpus where every doc shares one stopword shingle: with
    // maxDf below the group size the hot shingle contributes no
    // pairs (and, structurally, is filtered before collect_list —
    // the window count runs first, so the group never materializes)
    val common = "alpha beta gamma"
    val df = (1 to 20).map(i => (i.toLong, s"$common w$i x$i y$i")).toDF("id", "text")
    val capped = ngramJaccardPairs(df, $"id", $"text", shingleN = 3,
      threshold = 0.01, maxDf = 10)
    // docs share ONLY the 'alpha beta gamma' shingle (+ boundary
    // shingles unique per doc) -> dropping it leaves no pairs
    assert(capped.count() == 0)
    val uncapped = ngramJaccardPairs(df, $"id", $"text", shingleN = 3,
      threshold = 0.01, maxDf = 1000)
    assert(uncapped.count() == 20 * 19 / 2)
  }

  test("snapshotDiff classifies added/removed/changed/unchanged incl. null flips") {
    val oldV = Seq(
      (1L, Option("same")), (2L, Option("will change")),
      (3L, Option("gone")), (5L, Option.empty[String])
    ).toDF("doc_id", "text")
    val newV = Seq(
      (1L, Option("same")), (2L, Option("did change")),
      (4L, Option("fresh")), (5L, Option("now has text"))
    ).toDF("doc_id", "text")
    val got = Dedup.snapshotDiff(oldV, newV, $"doc_id", $"text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "added", 5L -> "changed"), got.toString)
  }

  test("nearDupDedupBest keeps the best-scoring member of each transitive class") {
    // three overlapping near-dups form ONE transitive class; only
    // its best-scoring member may survive
    val a = (1 to 30).map(i => s"w$i").mkString(" ")
    val b = ((1 to 27).map(i => s"w$i") ++ Seq("x", "y", "z")).mkString(" ")
    val c = ((1 to 24).map(i => s"w$i") ++
      Seq("x", "y", "z", "p", "q", "r")).mkString(" ")
    val df = Seq(
      (1L, a, 5L), (2L, b, 9L), (3L, c, 1L),       // one class; 2 wins on score
      (4L, (100 to 130).map(i => s"v$i").mkString(" "), 0L) // unpaired: passes
    ).toDF("doc_id", "text", "score")
    val kept = Dedup.nearDupDedupBest(df, $"doc_id", $"text", $"score",
        threshold = 0.5)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L), kept.toString)
    // sanity: under min-id retention doc 1 would have survived instead
    val minId = Dedup.nearDupDedup(df, $"doc_id", $"text", threshold = 0.5)
      .select($"doc_id").as[Long].collect().toSet
    assert(minId == Set(1L, 4L), minId.toString)
  }

  test("keepBest: best score survives, ties to min id, null text passes") {
    val df = Seq(
      (1L, Option("same text"), Option(5L)),
      (2L, Option("Same  TEXT"), Option(9L)), // fingerprint-equal variant, best score
      (3L, Option("same text"), None),        // null score loses to any scored dup
      (10L, Option("other doc"), Option(4L)),
      (11L, Option("other doc"), Option(4L)), // tie -> smaller id survives
      (20L, None: Option[String], Option(1L)),
      (21L, None: Option[String], Option(2L)) // null-text rows all pass
    ).toDF("doc_id", "text", "score")
    val kept = Dedup.keepBest(df, $"doc_id", $"text", $"score")
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 10L, 20L, 21L), kept.toString)
  }

  test("containmentPairs finds a quote inside a long doc that jaccard misses") {
    val long = (1 to 60).map(i => s"w$i").mkString(" ")
    val quote = (10 to 20).map(i => s"w$i").mkString(" ")
    val other = (100 to 140).map(i => s"v$i").mkString(" ")
    val df = Seq((1L, long), (2L, quote), (3L, other)).toDF("id", "text")
    val got = containmentPairs(df, $"id", $"text", threshold = 0.9)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.length == 1, got.mkString(","))
    val (a, b, ca, cb) = got.head
    assert((a, b) == (1L, 2L))
    // the quote (smaller set) is fully contained; the article is not
    assert(cb == 1.0 && ca < 0.3)
    // symmetric jaccard at a LOWER threshold still misses the pair
    assert(ngramJaccardPairs(df, $"id", $"text", threshold = 0.3)
      .count() == 0)
  }

  test("prefixContainmentPairs equals uncapped containmentPairs on a seeded corpus") {
    val long = (1 to 60).map(i => s"w$i").mkString(" ")
    val quote = (10 to 20).map(i => s"w$i").mkString(" ")
    val near = ((1 to 27).map(i => s"w$i") ++ Seq("zz", "qq", "pp")).mkString(" ")
    val df = Seq(
      (1L, long), (2L, quote), (3L, near), (4L, long),     // contained + near + dup
      (5L, (100 to 130).map(i => s"v$i").mkString(" ")),   // disjoint
      (6L, "a b"), (7L, ""), (8L, null.asInstanceOf[String]) // short + blank + null
    ).toDF("id", "text")
    for (t <- Seq(0.5, 0.7, 0.9, 1.0)) {
      // the general form with an uncapped maxDf is the EXACT
      // inverted-index reference (the default routes t >= 0.7 to the
      // prefix plan under test)
      val want = Dedup.containmentGeneral(df, $"id", $"text", 3, t,
          maxDf = 1000000, maxCandidates = Dedup.defaultMaxCandidates)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
      val got = prefixContainmentPairs(df, $"id", $"text", threshold = t)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
      assert(got == want, s"threshold $t")
    }
  }

  test("containmentPairs default-routes t >= 0.7 to the min-side prefix plan") {
    val df = Seq((1L, "a b c d e"), (2L, "a b c d f")).toDF("id", "text")
    def site(d: org.apache.spark.sql.DataFrame): String =
      d.queryExecution.analyzed.toString
    val routed = site(containmentPairs(df, $"id", $"text", threshold = 0.7))
    assert(routed.contains("graft.containment_prefix.") &&
      !routed.contains("graft.containment_shingles."), routed.take(2000))
    val general = site(Dedup.containmentGeneral(df, $"id", $"text", 3,
      0.7, 1000, Dedup.defaultMaxCandidates))
    assert(general.contains("graft.containment_shingles."), general.take(2000))
    val low = site(containmentPairs(df, $"id", $"text", threshold = 0.5))
    assert(low.contains("graft.containment_shingles."), low.take(2000))
  }

  test("prefixContainmentPairs at t=1: the smaller side's one-shingle prefix wins") {
    // full containment of a quote in an article: at t=1.0 the quote
    // indexes ONE shingle (its rarest) and the candidate must come
    // from joining that prefix against the article's FULL set — a
    // symmetric prefix-vs-prefix block would miss it, since the
    // article's own prefix need not contain any quote shingle
    val long = (1 to 60).map(i => s"w$i").mkString(" ")
    val quote = (10 to 20).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, long), (2L, quote)).toDF("id", "text")
    val got = prefixContainmentPairs(df, $"id", $"text", threshold = 1.0)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.length == 1 && got.head._1 == 1L && got.head._2 == 2L)
    assert(got.head._4 == 1.0, got.mkString(","))
  }

  test("prefixJaccardPairs equals uncapped ngramJaccardPairs on a seeded corpus") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val near = ((1 to 27).map(i => s"w$i") ++ Seq("zz", "qq", "pp")).mkString(" ")
    val df = Seq(
      (1L, base), (2L, near), (3L, base),                 // near + exact dup
      (4L, (100 to 130).map(i => s"v$i").mkString(" ")),  // disjoint
      (5L, "a b"), (6L, ""), (7L, null.asInstanceOf[String]) // short + blank + null
    ).toDF("id", "text")
    for (t <- Seq(0.3, 0.5, 0.8)) {
      // the inverted-index GENERAL form: the default would route
      // t >= 0.5 to prefixJaccardPairs and make this equality vacuous
      val want = Dedup.ngramJaccardGeneral(df, $"id", $"text", 3, t,
          maxDf = 1000000, maxCandidates = Dedup.defaultMaxCandidates)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val got = prefixJaccardPairs(df, $"id", $"text", threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == want, s"threshold $t")
    }
  }

  test("ngramJaccardPairs default-routes t >= 0.5 to the prefix plan") {
    val df = Seq((1L, "a b c d e"), (2L, "a b c d f")).toDF("id", "text")
    // the two plans carry distinct observe sites: the prefix path
    // registers graft.prefix_tokens.<n>, the inverted-index general
    // form graft.ngram_shingles.<n> — the CollectMetrics name in the
    // analyzed plan is the routing witness
    def site(d: org.apache.spark.sql.DataFrame): String =
      d.queryExecution.analyzed.toString
    val routed = site(ngramJaccardPairs(df, $"id", $"text", threshold = 0.5))
    assert(routed.contains("graft.prefix_tokens.") &&
      !routed.contains("graft.ngram_shingles."), routed.take(2000))
    val general = site(Dedup.ngramJaccardGeneral(df, $"id", $"text", 3,
      0.5, 1000, Dedup.defaultMaxCandidates))
    assert(general.contains("graft.ngram_shingles."), general.take(2000))
    val low = site(ngramJaccardPairs(df, $"id", $"text", threshold = 0.3))
    assert(low.contains("graft.ngram_shingles."), low.take(2000))
    // and the routed result is still the exact pair set
    val got = ngramJaccardPairs(df, $"id", $"text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // shingles: {abc,bcd,cde} vs {abc,bcd,cdf} -> inter 2, union 4
    assert(got == Set((1L, 2L, 0.5)), got.toString)
  }

  test("prefixJaccardPairs keeps the exact-boundary pair (size-filter slack)") {
    // na=4, nb=5, inter=4 -> jaccard exactly 0.8; the size filter's
    // t*max in floats is 4.0000000000000002, which without slack
    // would drop this TRUE pair before the rerank ever saw it
    val a = "w1 w2 w3 w4 w5 w6"        // 4 distinct 3-gram shingles
    val b = "w1 w2 w3 w4 w5 w6 w7"     // 5, superset of a's
    val df = Seq((1L, a), (2L, b)).toDF("id", "text")
    val got = prefixJaccardPairs(df, $"id", $"text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 2L, 0.8)), got.mkString(","))
  }

  test("prefixJaccardPairs at threshold 1 blocks on one shingle per doc") {
    // t=1.0 -> prefix length n - n + 1 = 1: only each doc's single
    // rarest shingle is indexed, and only identical sets pair
    val df = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "a b c x"))
      .toDF("id", "text")
    val got = prefixJaccardPairs(df, $"id", $"text", threshold = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("prefixJaccardPairs: a corpus-wide stopword shingle stays out of prefixes") {
    // every doc shares 'alpha beta gamma'; with rarest-first ordering
    // that shingle ranks LAST per doc, so no prefix contains it and
    // no candidate blowup occurs — yet true pairs still surface
    val common = "alpha beta gamma"
    val df = (1 to 20).map(i => (i.toLong, s"$common w$i x$i y$i"))
      .toDF("id", "text") union
      Seq((100L, "alpha beta gamma w1 x1 y1")).toDF("id", "text")
    val got = prefixJaccardPairs(df, $"id", $"text", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 100L)), got.mkString(","))
  }

  test("blockingStats: hand-computed candidate bounds per threshold") {
    // docs 1,2 = "a b c d" -> shingles {abc,bcd}; doc 3 -> {abc,bce}
    // df: abc=3, bcd=2, bce=1; rarity rank puts abc LAST everywhere.
    // t=0.5: prefix = both shingles -> entries 6,
    //   jaccard C(3,2)+C(2,2)=4, containment 3*2+2*1=8;
    // t=0.9: prefix = rarest only (bcd,bcd,bce) -> entries 3,
    //   jaccard C(2,2)=1, containment 2*1=2. Blank/null docs ignored.
    val df = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "a b c e"),
      (4L, ""), (5L, null.asInstanceOf[String])).toDF("id", "text")
    val got = blockingStats(df, $"id", $"text",
        thresholds = Seq(0.5, 0.9))
      .collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == Set((0.5, 6L, 4L, 8L), (0.9, 3L, 1L, 2L)), got.toString)
  }

  test("deltaDedup: within-delta min-id, corpus probe, null pass-through") {
    val delta = Seq(
      (10L, Option("same text")),
      (11L, Option("same text")),      // within-delta dup: 10 survives
      (12L, Option("already known")),  // in the corpus: dropped
      (13L, None: Option[String]),     // null text: passes wholesale
      (14L, Option("fresh content")))
      .toDF("doc_id", "text")
    val corpusFps = Seq("already known").toDF("t")
      .select(TextAnalysis.fingerprint($"t").as("fp"))
    val kept = deltaDedup(delta, $"doc_id", $"text", corpusFps)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(10L, 13L, 14L), kept.toString)
  }

  test("deltaDedupBloom equals deltaDedup at every fpp, probe in plan") {
    val delta = Seq(
      (10L, Option("same text")),
      (11L, Option("same text")),
      (12L, Option("already known")),
      (13L, None: Option[String]),
      (14L, Option("fresh content")))
      .toDF("doc_id", "text")
    val corpusFps = (Seq("already known") ++
        (1 to 200).map(i => s"corpus doc $i")).toDF("t")
      .select(TextAnalysis.fingerprint($"t").as("fp"))
    // aggressive fpp floods the suspect branch with false positives;
    // the verification join must keep the output exact regardless
    for (fpp <- Seq(0.01, 0.4)) {
      val out = deltaDedupBloom(delta, $"doc_id", $"text", corpusFps,
        fpp = fpp)
      val kept = out.select($"doc_id").as[Long].collect().toSet
      assert(kept == Set(10L, 13L, 14L), s"fpp=$fpp: $kept")
      assert(out.queryExecution.executedPlan.toString
          .contains("might_contain"),
        "the map-side bloom probe must be in the physical plan")
    }
  }

  test("deltaDedupBloom: empty corpus keeps the within-delta dedup") {
    val delta = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("doc_id", "text")
    val empty = Seq.empty[String].toDF("t")
      .select(TextAnalysis.fingerprint($"t").as("fp"))
    val kept = deltaDedupBloom(delta, $"doc_id", $"text", empty)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
  }

  test("duplicateSpanStats: cross-doc grams count, within-doc repeats don't") {
    val df = Seq(
      (1L, Option("a b c d e f")),   // grams: "a b c d e", "b c d e f"
      (2L, Option("z a b c d e")),   // grams: "z a b c d", "a b c d e"
      (3L, Option("x x x x x x")),   // "x x x x x" twice — SAME doc only
      (4L, Option("one two")),       // < 5 tokens: zero spans
      (5L, None: Option[String]))    // null text: zero spans
      .toDF("doc_id", "text")
    val got = duplicateSpanStats(df, $"doc_id", $"text", n = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // docs 1 and 2 share exactly "a b c d e": 1 of 2 positions each
    assert(got(1L) == ((2L, 1L, 0.5)), got(1L).toString)
    assert(got(2L) == ((2L, 1L, 0.5)), got(2L).toString)
    // doc 3's repeated gram appears in ONE doc — df counts docs, so
    // within-doc repetition is not cross-doc duplication
    assert(got(3L) == ((2L, 0L, 0.0)), got(3L).toString)
    assert(got(4L) == ((0L, 0L, 0.0)), got(4L).toString)
    assert(got(5L) == ((0L, 0L, 0.0)), got(5L).toString)
  }

  test("duplicateSpanStats: every position of a shared gram counts") {
    // doc 10 contains the shared gram at two positions; doc 11 once
    val df = Seq(
      (10L, "p q r s t u p q r s t"), // grams at pos 0..6; "p q r s t" at 0 and 6
      (11L, "p q r s t"))             // exactly the shared gram
      .toDF("doc_id", "text")
    val got = duplicateSpanStats(df, $"doc_id", $"text", n = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(10L)._1 == 7L, got(10L).toString)
    assert(got(10L)._2 == 2L, got(10L).toString) // both positions dup
    assert(got(11L) == ((1L, 1L)), got(11L).toString)
  }

  test("sourceOverlap: shared DISTINCT grams per pair, gram-set jaccard") {
    val df = Seq(
      ("s1", Option("a b c d e f")), // grams: "a b c d e", "b c d e f"
      ("s1", Option("a b c d e")),   // "a b c d e" again — distinct per source
      ("s2", Option("a b c d e x")), // "a b c d e", "b c d e x"
      ("s3", Option("q r s t u")),   // disjoint gram set
      ("s2", Option("zz")),          // < 5 tokens: no grams
      ("s3", None: Option[String]))  // null text: no grams
      .toDF("source", "text")
    val got = sourceOverlap(df, $"source", $"text", n = 5)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    // s1 = {abcde, bcdef}, s2 = {abcde, bcdex}: 1 shared, union 3
    assert(got.keySet == Set(("s1", "s2")),
      s"pairs sharing no gram must not appear: ${got.keySet}")
    assert(got(("s1", "s2")) == ((1L, 0.3333)), got(("s1", "s2")).toString)
  }

  test("sourceOverlap pairs are unordered (source_a < source_b once)") {
    val df = Seq(("b_src", "m n o p q"), ("a_src", "m n o p q"))
      .toDF("source", "text")
    val rows = sourceOverlap(df, $"source", $"text", n = 5).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getString(0) == "a_src" && r.getString(1) == "b_src")
    assert(r.getLong(2) == 1L && r.getDouble(3) == 1.0, r.toString)
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._
  import Similarity._

  test("zero-norm vectors score 0.0, not NaN, and never win a top-k") {
    import spark.implicits._
    // Spark's double ordering ranks NaN ABOVE every value — without
    // the zero-norm guard a padding/failed-embedding row would be
    // rank 1 for every query and pass every >= threshold filter
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val both = corpus.select(
      cosine($"embedding", typedLit(Array(1.0f, 0.0f))).as("native"),
      cosineComposable($"embedding", typedLit(Array(1.0f, 0.0f))).as("comp"))
      .collect()
    assert(both.forall(r => !r.getDouble(0).isNaN && !r.getDouble(1).isNaN))
    assert(both.forall(r => r.getDouble(0) == r.getDouble(1))) // parity holds
    val top = bruteForceTopK(corpus, $"vec_id", $"embedding",
      corpus.filter($"vec_id" === 1L), $"vec_id", $"embedding", k = 2)
      .orderBy($"rnk").collect()
    assert(top.head.getLong(1) == 2L, s"zero vector must not outrank: ${top.toSeq}")
    assert(top.last.getLong(1) == 3L && top.last.getDouble(2) == 0.0)
  }

  test("hardNegatives: only other-label neighbors, ranked like topK") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f), 7),
      (2L, Array(0.99f, 0.14f), 7),  // same label: excluded however close
      (3L, Array(0.9f, 0.44f), 8),   // best other-label
      (4L, Array(0.0f, 1.0f), 8),
      (5L, Array(0.5f, 0.87f), 9)
    ).toDF("vec_id", "embedding", "label")
    val got = hardNegatives(corpus, $"vec_id", $"embedding", $"label",
        corpus.filter($"vec_id" === 1L), $"vec_id", $"embedding", $"label",
        k = 2)
      .orderBy($"rnk").collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(got.toSeq == Seq((3L, 1), (5L, 2)), got.mkString(","))
    // parity with bruteForceTopK restricted to other-label rows
    val ref = bruteForceTopK(corpus.filter($"label" =!= 7), $"vec_id",
        $"embedding", corpus.filter($"vec_id" === 1L), $"vec_id",
        $"embedding", k = 2)
      .select($"query_id", $"vec_id", $"cos", $"rnk").collect().toSet
    val full = hardNegatives(corpus, $"vec_id", $"embedding", $"label",
        corpus.filter($"vec_id" === 1L), $"vec_id", $"embedding", $"label",
        k = 2).collect().toSet
    assert(full == ref)
  }

  test("labelPrototypes sums exact micro-units; prototypePredict assigns nearest") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(0.8f, 0.2f), 0),
      (3L, Array(0.0f, 1.0f), 1), (4L, Array(0.1f, 0.9f), 1)
    ).toDF("vec_id", "embedding", "label")
    val protos = labelPrototypes(corpus, $"embedding", $"label")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(protos(0) == Seq(1800000.0, 200000.0))
    assert(protos(1) == Seq(100000.0, 1900000.0))
    val preds = prototypePredict(corpus, $"embedding", $"label",
        corpus, $"vec_id", $"embedding")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(preds == Map(1L -> 0, 2L -> 0, 3L -> 1, 4L -> 1))
    // unlabeled queries still classify; unlabeled corpus rows are
    // excluded from the prototypes
    val mixed = corpus.unionByName(
      Seq((9L, Array(0.9f, 0.1f), null.asInstanceOf[Integer]))
        .toDF("vec_id", "embedding", "label"))
    val p9 = prototypePredict(mixed, $"embedding", $"label",
        mixed.filter($"vec_id" === 9L), $"vec_id", $"embedding")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(p9 == Map(9L -> 0))
  }

  test("prototypeDrift: identical halves 1.0, rotated drift < 1, lone labels null") {
    val oldC = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(0.8f, 0.2f), 0),
      (3L, Array(0.0f, 1.0f), 1),
      (4L, Array(0.5f, 0.5f), 7)   // label 7 only in the old snapshot
    ).toDF("vec_id", "embedding", "label")
    val newC = Seq(
      (11L, Array(1.0f, 0.0f), 0), (12L, Array(0.8f, 0.2f), 0), // same mix
      (13L, Array(0.7f, 0.7f), 1)  // label 1 rotated ~45 degrees
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.prototypeDrift(oldC, newC, $"embedding", $"label")
      .collect().map(r => r.getInt(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got(0).contains(1.0), got.toString)
    assert(got(1).exists(d => d > 0.5 && d < 0.9), got.toString)
    assert(got(7).isEmpty, "old-only label must report null drift")
  }

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val df = Seq((Seq(1.0f, 0.0f), Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)))
      .toDF("a", "b", "c")
    val r = df.select(round(cosine($"a", $"b"), 6), round(cosine($"a", $"c"), 6))
      .collect().head
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 0.0)
  }

  test("bruteForceTopK ranks the nearest corpus vectors per query") {
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0.0f, 1.0f)), (4L, Seq(-1.0f, 0.0f))).toDF("id", "v")
    val q = Seq((1L, Seq(1.0f, 0.0f))).toDF("id", "v")
    val got = bruteForceTopK(corpus, $"id", $"v", q, $"id", $"v", k = 2)
      .orderBy($"rnk").collect().map(_.getLong(1)).toSeq
    assert(got == Seq(2L, 3L))
  }

  test("knnPredict takes the majority label with smaller-label tie-break") {
    // query (1,0): neighbors by cosine are id2 (lbl 0), id3 (lbl 1),
    // id4 (lbl 1) -> k=3 majority is 1; k=2 ties 0 vs 1 -> pick 0
    val corpus = Seq(
      (2L, Seq(0.9f, 0.1f), 0), (3L, Seq(0.8f, 0.2f), 1),
      (4L, Seq(0.7f, 0.3f), 1), (5L, Seq(-1.0f, 0.0f), 0))
      .toDF("id", "v", "lbl")
    val q = Seq((1L, Seq(1.0f, 0.0f))).toDF("id", "v")
    val k3 = knnPredict(corpus, $"id", $"v", $"lbl", q, $"id", $"v", k = 3)
      .as[(Long, Int, Long)].collect().head
    assert(k3 == ((1L, 1, 2L)), k3.toString)
    val k2 = knnPredict(corpus, $"id", $"v", $"lbl", q, $"id", $"v", k = 2)
      .as[(Long, Int, Long)].collect().head
    assert(k2 == ((1L, 0, 1L)), k2.toString)
  }

  test("knnPredict ignores unlabeled corpus rows") {
    val corpus = Seq(
      (2L, Seq(1.0f, 0.0f), Some(7)), (3L, Seq(0.99f, 0.1f), None))
      .toDF("id", "v", "lbl")
    val q = Seq((1L, Seq(1.0f, 0.0f))).toDF("id", "v")
    val got = knnPredict(corpus, $"id", $"v", $"lbl", q, $"id", $"v", k = 2)
      .as[(Long, Int, Long)].collect().head
    assert(got == ((1L, 7, 1L)))
  }

  test("lshTopK returns a subset of brute-force results (same bucket)") {
    val vecs = (0 until 50).map { i =>
      (i.toLong, Seq.tabulate(8)(d => math.sin(i * 31 + d).toFloat))
    }
    val corpus = vecs.toDF("id", "v")
    val q = vecs.take(2).toDF("id", "v")
    val ann = lshTopK(corpus, $"id", $"v", q, $"id", $"v", k = 3, bits = 2,
      probeRadius = 0)
    assert(ann.count() > 0)
    assert(ann.collect().forall(_.getInt(3) <= 3))
  }

  test("multiprobe widens coverage monotonically up to brute force") {
    val vecs = (0 until 60).map { i =>
      (i.toLong, Seq.tabulate(8)(d => math.cos(i * 17 + 3 * d).toFloat))
    }
    val corpus = vecs.toDF("id", "v")
    val q = vecs.take(3).toDF("id", "v")
    val exact = bruteForceTopK(corpus, $"id", $"v", q, $"id", $"v", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = (0 to 3).map { radius =>
      val ann = lshTopK(corpus, $"id", $"v", q, $"id", $"v", k = 5,
        bits = 3, probeRadius = radius)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (ann & exact).size
    }
    assert(hits == hits.sorted, s"recall not monotone in radius: $hits")
    // radius = bits probes every bucket -> identical to brute force
    assert(hits.last == exact.size)
  }

  test("embeddingNearDups caps degenerate buckets (all-same-signature corpus)") {
    // 50 identical vectors: one bucket, 1225 potential pairs — with
    // maxBucket below the membership the bucket is dropped (bounded
    // output, counted before buffering), with a roomy cap all pairs
    // emerge
    val df = (1 to 50).map(i => (i.toLong, Seq(1.0f, 0.5f, -0.25f, 0.8f)))
      .toDF("id", "v")
    val capped = embeddingNearDups(df, $"id", $"v", threshold = 0.9,
      maxBucket = 10)
    assert(capped.count() == 0)
    val roomy = embeddingNearDups(df, $"id", $"v", threshold = 0.9,
      maxBucket = 100)
    assert(roomy.count() == 50 * 49 / 2)
  }

  test("banded embeddingNearDups recovers true near-duplicates (recall gate)") {
    // a corpus WITH near-dup structure (the synthetic embeddings have
    // none): 40 random base vectors plus a tiny-noise copy of each —
    // 40 true pairs at cos ~0.999. Banded LSH must recover nearly all
    // of what brute force finds; a single-bucket (unbanded) scheme
    // loses pairs whose one differing signature bit splits the bucket.
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(16)(rnd.nextGaussian().toFloat)
    val rows = (0 until 40).flatMap { i =>
      val v = vec()
      val near = v.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
      Seq((i.toLong * 2, v.toSeq), (i.toLong * 2 + 1, near.toSeq))
    }
    val df = rows.toDF("id", "v")
    val exact = bruteForcePairs(df, $"id", $"v", threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 40) // every seeded pair qualifies
    val lsh = embeddingNearDups(df, $"id", $"v", threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact)) // rerank admits nothing below threshold
    val recall = (lsh & exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"banded LSH recall $recall")
  }

  test("semDedup keeps class minima and unpaired vectors, transitively") {
    // chain: 1≈2 and 2≈3 at cos >= 0.9, but cos(1,3) < 0.9 — the
    // closure must still collapse all three into one class (rep 1);
    // 4 is orthogonal and survives untouched
    val df = Seq(
      (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(0.95f, 0.31225f)),
      (3L, Seq(0.805f, 0.593f)),
      (4L, Seq(0.0f, 1.0f)))
      .toDF("id", "v")
    val kept = semDedup(df, $"id", $"v", nlist = 1, threshold = 0.9)
      .as[Long].collect().toSet
    assert(kept == Set(1L, 4L), kept.toString)
  }

  test("semDedup with clusters: exact twins co-cluster and dedup to the base") {
    // exact copies (cos = 1) are assigned identically by construction
    // — the multi-cluster path must find every twin WITHIN its
    // cluster and keep exactly the base ids
    val spark2 = spark
    import spark2.implicits._
    val base = graft.Graft.table(spark, sf, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("cv"))
    val twins = base.select(($"vec_id" + 1000000L).as("vec_id"), $"cv")
    val corpus = base.unionByName(twins)
    val kept = semDedup(corpus, $"vec_id", $"cv", nlist = 4,
      threshold = 0.999).as[Long].collect().toSet
    val baseIds = base.select($"vec_id").as[Long].collect().toSet
    assert(kept == baseIds,
      s"expected ${baseIds.size} base survivors, got ${kept.size}")
  }

  test("annRecallGate passes exact results and flags empty ANN") {
    val vecs = (0 until 20).map { i =>
      (i.toLong, Seq.tabulate(4)(d => math.sin(i * 13 + d).toFloat))
    }
    val corpus = vecs.toDF("id", "v")
    val q = vecs.take(2).toDF("id", "v")
    val exact = bruteForceTopK(corpus, $"id", $"v", q, $"id", $"v", k = 4)
    val perfect = annRecallGate(exact, exact, k = 4, floor = 1.0).collect()
    assert(perfect.length == 2 && perfect.forall(_.getBoolean(1)))
    val empty = annRecallGate(exact.filter(lit(false)), exact, k = 4, floor = 0.2)
      .collect()
    assert(empty.length == 2 && empty.forall(!_.getBoolean(1)))
  }
}

class IvfSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("IVF index is deterministic and probe recall beats the probed fraction") {
    val e = graft.Graft.table(spark, sf, "embeddings").limit(300)
    val (indexed, cents) = Ivf.index(e, col("vec_id"), col("embedding"),
      k = 8, iters = 1)
    // deterministic rebuild
    val (indexed2, _) = Ivf.index(e, col("vec_id"), col("embedding"),
      k = 8, iters = 1)
    val a1 = indexed.select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val a2 = indexed2.select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a1 == a2)

    val q = e.filter(col("vec_id") < 5)
    val ivf = Ivf.topK(indexed, cents, q, col("vec_id"), col("embedding"),
      k = 10, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.bruteForceTopK(e, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivf & exact).size.toDouble / exact.size
    assert(recall >= 0.3, s"recall $recall too low")
  }

  test("bruteForcePairs finds symmetric thresholded pairs once") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.99f, 0.1f)), (3L, Seq(0.0f, 1.0f)))
      .toDF("id", "v")
    val got = Similarity.bruteForcePairs(df, $"id", $"v", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 2L)))
  }

  test("stratumPairs = bruteForcePairs restricted to >=1 stratum endpoint") {
    import spark.implicits._
    val e = graft.Graft.table(spark, sf, "embeddings").limit(400)
      .select(col("vec_id"), col("embedding"))
    val exact = Similarity.bruteForcePairs(
        e, $"vec_id", $"embedding", threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // rate mirrors stratumPairs' internal arithmetic (witness 50/400)
    val n = e.count()
    val strat = e.filter(Sampling.keepHash(col("vec_id"),
        math.min(1.0, 50.0 / n), 42L))
      .select($"vec_id").as[Long].collect().toSet
    assert(strat.nonEmpty && strat.size < n, s"degenerate stratum: $strat")
    val expected = exact.filter(p => strat(p._1) || strat(p._2))
    val got = Similarity.stratumPairs(
        e, $"vec_id", $"embedding", threshold = 0.4, witnessSize = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    assert(got.nonEmpty, "vacuous witness: no pairs above threshold")
    // witness-side broadcast: the big side streams, the stratum is the
    // broadcast relation — no O(n^2) nested loop over the full corpus
    val plan = Similarity.stratumPairs(
      e, $"vec_id", $"embedding", 0.4, 50).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
  }

  test("writePartitioned probe is a partition-pruned scan with equal results") {
    val e = graft.Graft.table(spark, sf, "embeddings").limit(300)
    val (indexed, cents) = Ivf.index(e, col("vec_id"), col("embedding"),
      k = 8, iters = 1)
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf")
    val base = tmp.toString + "/index"
    try {
      Ivf.writePartitioned(indexed, base)
      // one directory per cluster
      val dirs = new java.io.File(base).listFiles()
        .filter(_.getName.startsWith("cluster=")).map(_.getName).toSet
      assert(dirs.size > 1, s"expected several cluster dirs, got $dirs")
      // static pruning: a literal cluster filter is a PartitionFilter
      val one = spark.read.parquet(base).filter(col("cluster") === 0)
      val plan = one.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("cluster"), plan)
      // the probe against the persisted layout equals the in-memory one
      val q = e.filter(col("vec_id") < 5)
      val fromDisk = Ivf.topK(spark.read.parquet(base), cents, q,
        col("vec_id"), col("embedding"), k = 10, nprobe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      val inMem = Ivf.topK(indexed, cents, q,
        col("vec_id"), col("embedding"), k = 10, nprobe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      assert(fromDisk == inMem)
    } finally {
      import scala.reflect.io.Directory
      new Directory(tmp.toFile).deleteRecursively()
    }
  }
}

class MultimodalSpec extends SparkSpec {
  import Multimodal._

  test("null payloads stay total through every operator (no NPE)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // regression: a single null payload row NPE'd the decoders —
    // asMedia now normalizes null to empty bytes at the boundary
    val docs = Seq((1L, Option("bytes")), (2L, None: Option[String]))
      .toDF("doc_id", "text")
    val media = asMedia(docs, "doc_id", "text")
    assert(decodeMeta(media).collect().length == 2)
    assert(resizeImage(media, 16).collect().length == 2)
    assert(resize(media, 4).collect().length == 2)
    assert(sampleFrames(media, 2, 1).collect().nonEmpty)
    assert(extractFeatures(media).collect().length == 2)
  }

  test("dHash of patternPng(k) is the designed bit pattern in every row") {
    for (k <- Seq(0, 1, 7, 100, 254)) {
      val sig = Multimodal.dHash64(Multimodal.patternPng(k))
      val expected = (k + 1).toLong * 0x0101010101010101L
      assert(sig.contains(expected), s"k=$k: $sig vs $expected")
    }
    // distinct k -> distinct hashes (pairwise, over a sample)
    val sigs = (0 until 16).map(k => Multimodal.dHash64(Multimodal.patternPng(k)).get)
    assert(sigs.distinct.length == sigs.length)
  }

  test("dHash survives a bilinear resize (perceptual invariance)") {
    // a 10x upscale + PNG re-encode is the canonical perceptual
    // duplicate; its gradient signs — and so the dHash — must hold
    val base = Multimodal.patternPng(5)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(base))
    val big = new java.awt.image.BufferedImage(90, 80,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = big.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, 90, 80, null)
    } finally g.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(big, "png", bos)
    val hBig = Multimodal.dHash64(bos.toByteArray).get
    val hBase = Multimodal.dHash64(base).get
    val hamming = java.lang.Long.bitCount(hBig ^ hBase)
    assert(hamming <= 4, s"10x upscale moved the perceptual hash by $hamming bits")
  }

  test("dHashes drops undecodable payloads; imageNearDups pairs by pattern") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, "image/png", Multimodal.patternPng(3)),
      Multimodal.MediaRow(2L, "image/png", Multimodal.patternPng(3)),
      Multimodal.MediaRow(3L, "image/png", Multimodal.patternPng(4)),
      Multimodal.MediaRow(4L, "text/plain",
        "not an image at all".getBytes("UTF-8"))
    ).toDS()
    assert(Multimodal.dHashes(media).count() == 3)
    val pairs = Multimodal.imageNearDups(media, maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0)), pairs.mkString(","))
  }

  test("audioHash64: distinct patterns distinct, equal equal, invariances hold") {
    import spark.implicits._
    val sigs = (0 until 5).map(k => Multimodal.audioHash64(Multimodal.patternWav(k)).get)
    assert(sigs.distinct.length == sigs.length, s"collision in $sigs")
    assert(Multimodal.audioHash64(Multimodal.patternWav(3)) ==
      Multimodal.audioHash64(Multimodal.patternWav(3)))
    // level invariance: halving the volume preserves gradient signs
    val base = Multimodal.patternWav(2)
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(base))
    val fmt = ais.getFormat
    val data = ais.readAllBytes()
    var i = 0
    while (i < data.length) {
      val v = (((data(i + 1) << 8) | (data(i) & 0xff)) / 2).toShort
      data(i) = (v & 0xff).toByte
      data(i + 1) = ((v >> 8) & 0xff).toByte
      i += 2
    }
    val quiet = {
      val a2 = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, data.length / 2)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(a2,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val h1 = Multimodal.audioHash64(base).get
    val h2 = Multimodal.audioHash64(quiet).get
    assert(java.lang.Long.bitCount(h1 ^ h2) <= 4,
      s"volume change moved the hash ${java.lang.Long.bitCount(h1 ^ h2)} bits")
    // non-audio payloads drop; pairs form by pattern class
    val media = Seq(
      Multimodal.MediaRow(1L, "audio/wav", Multimodal.patternWav(1)),
      Multimodal.MediaRow(2L, "audio/wav", Multimodal.patternWav(1)),
      Multimodal.MediaRow(3L, "audio/wav", Multimodal.patternWav(2)),
      Multimodal.MediaRow(4L, "text/plain", "nope".getBytes("UTF-8"))
    ).toDS()
    assert(Multimodal.audioHashes(media).count() == 3)
    val pairs = Multimodal.audioNearDups(media, maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0)), pairs.mkString(","))
  }

  test("videoNearDups: identical clips pair, and a clip inside a longer cut pairs") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, "image/gif", Multimodal.patternGif(0)),
      Multimodal.MediaRow(2L, "image/gif", Multimodal.patternGif(0)),
      Multimodal.MediaRow(3L, "image/gif", Multimodal.patternGif(1)),
      // the 3-frame clip re-posted inside a 4-frame compilation:
      // containment (overlap of the SMALLER set) must still pair it
      Multimodal.MediaRow(4L, "image/gif", Multimodal.patternGif(0, frames = 4))
    ).toDS()
    val pairs = Multimodal.videoNearDups(media, minOverlap = 0.9)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(pairs == Set((1L, 2L, 3L, 1.0), (1L, 4L, 3L, 1.0),
      (2L, 4L, 3L, 1.0)), pairs.toString)
  }

  test("media features flow into the similarity stack end-to-end") {
    import org.apache.spark.sql.functions._
    // the media -> embedding -> ANN composition: extractFeatures'
    // output column is directly consumable by the similarity
    // operators (schema/type contract), and identical payloads are
    // each other's nearest neighbors at cos 1.0
    val docs = graft.Graft.table(spark, sf, "documents").limit(40)
      .select(col("doc_id"), col("text"))
    val dup = docs.filter(col("doc_id") === 0)
      .select((col("doc_id") + 10000).as("doc_id"), col("text"))
    val feats = extractFeatures(asMedia(docs.unionByName(dup), "doc_id", "text"))
    val top = Similarity.bruteForceTopK(
      feats, col("doc_id"), col("embedding"),
      feats.filter(col("doc_id") === 0), col("doc_id"), col("embedding"),
      k = 1).collect().head
    assert(top.getLong(1) == 10000L, s"dup payload not nearest: $top")
    assert(top.getDouble(2) == 1.0)
    // same contract through the int8-quantized path: media features
    // quantize and rerank like any embedding column
    val qtop = Similarity.quantizedTopK(
      feats, col("doc_id"), col("embedding"),
      feats.filter(col("doc_id") === 0), col("doc_id"), col("embedding"),
      k = 1, overfetch = 4).collect().head
    assert(qtop.getLong(1) == 10000L && qtop.getDouble(2) == 1.0, qtop.toString)
  }

  test("decodeMeta emits deterministic stub metadata per row") {
    val docs = graft.Graft.table(spark, sf, "documents").limit(10)
    val meta = decodeMeta(asMedia(docs, "doc_id", "text")).collect()
    assert(meta.length == 10)
    assert(meta.forall(m => m.width >= 64 && m.height >= 64 && m.digest.length == 32))
    // determinism
    val again = decodeMeta(asMedia(docs, "doc_id", "text")).collect()
    assert(meta.map(_.digest).toSeq == again.map(_.digest).toSeq)
  }

  test("decodeMeta reads REAL dimensions/format from PNG and JPEG bytes") {
    import spark.implicits._
    implicit val enc = org.apache.spark.sql.Encoders.product[MediaRow]
    def encode(fmt: String, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, 0xcafe42)
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, out), s"no $fmt writer")
      out.toByteArray
    }
    val media = Seq(
      MediaRow(1L, "image/unknown", encode("png", 37, 19)),
      MediaRow(2L, "image/unknown", encode("jpg", 5, 83)),
      MediaRow(3L, "application/octet-stream",
        Array.tabulate[Byte](100)(_.toByte))).toDS()
    val got = decodeMeta(media).collect().map(m => m.doc_id -> m).toMap
    assert(got(1L).width == 37 && got(1L).height == 19 &&
      got(1L).media_type == "image/png")
    assert(got(2L).width == 5 && got(2L).height == 83 &&
      got(2L).media_type == "image/jpeg")
    // unrecognized payload falls back to the stub with declared type
    assert(got(3L).media_type == "application/octet-stream" &&
      got(3L).width == 64 + 100 % 577)
    // the digest is the raw-payload MD5 in both paths
    assert(got.values.forall(_.digest.length == 32))
  }

  test("printable magic prefixes in TEXT do not reach the image decoder") {
    // "BM" and "GIF8" are ordinary printable prefixes — a text corpus
    // WILL contain them ("BMW...", "GIF89a was released..."); if the
    // gate let them through, the JDK readers would parse the text as
    // a header and emit garbage dims where the graded oracle models
    // the stub. The structural checks (BMP size field == payload
    // length, GIF trailer byte) must reject text while admitting
    // real encoder output.
    def b(s: String) = s.getBytes("UTF-8")
    assert(decodeImage(b("BMW produces engines and motorcycles")).isEmpty)
    assert(decodeImage(b("GIF89a was released in 1989 and...")).isEmpty)
    assert(gifFrames(b("GIF89a history of the format"), 1).isEmpty)
    // real encoder output still decodes
    val img = new java.awt.image.BufferedImage(
      9, 7, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (fmt <- Seq("bmp", "gif")) {
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, out), s"no $fmt writer")
      assert(decodeImage(out.toByteArray).contains((9, 7, fmt)),
        s"real $fmt rejected by the structural gate")
    }
  }

  test("gates tolerate spec-legal encoder quirks (bfSize=0, RIFF sentinels, GIF padding)") {
    val img = new java.awt.image.BufferedImage(
      9, 7, java.awt.image.BufferedImage.TYPE_INT_RGB)
    // BMP with bfSize zeroed (spec-legal for uncompressed BMPs):
    // still decodes, because the reserved u32 at offset 6 is 0
    val bmpOut = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "bmp", bmpOut))
    val bmp0 = bmpOut.toByteArray.clone()
    bmp0(2) = 0; bmp0(3) = 0; bmp0(4) = 0; bmp0(5) = 0
    assert(decodeImage(bmp0).contains((9, 7, "bmp")),
      "bfSize==0 BMP rejected")
    // GIF with trailing padding after the 0x3b trailer (real writers
    // do this): trailer found within the final 8 bytes
    val gifOut = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "gif", gifOut))
    val gifPadded = gifOut.toByteArray ++ Array[Byte](0, 0, 0)
    assert(decodeImage(gifPadded).contains((9, 7, "gif")),
      "trailer-padded GIF rejected")
    // WAV with streaming-writer RIFF size sentinels 0 / 0xFFFFFFFF
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val raw = new Array[Byte](80 * 2)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(raw), fmt, 80L)
    val wavOut = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, wavOut)
    for (sentinel <- Seq(0x00, 0xff)) {
      val wav = wavOut.toByteArray.clone()
      wav(4) = sentinel.toByte; wav(5) = sentinel.toByte
      wav(6) = sentinel.toByte; wav(7) = sentinel.toByte
      assert(audioMagic(wav), f"RIFF sentinel 0x$sentinel%02x rejected")
    }
    // but an arbitrary wrong size (not sentinel, not ±1) still rejects
    val wavBad = wavOut.toByteArray.clone()
    wavBad(4) = 0x39; wavBad(5) = 0x30; wavBad(6) = 0x30; wavBad(7) = 0x00
    assert(!audioMagic(wavBad), "non-sentinel wrong RIFF size admitted")
    // sampleFramesGif rejects nonpositive fallbackFrameBytes loudly,
    // driver-side (mirror of sampleFrames' require)
    import spark.implicits._
    implicit val enc = org.apache.spark.sql.Encoders.product[MediaRow]
    val media = Seq(MediaRow(1L, "x", Array[Byte](1, 2, 3))).toDS()
    intercept[IllegalArgumentException] {
      sampleFramesGif(media, stride = 1, fallbackFrameBytes = 0)
    }
  }

  test("resizeImage REALLY rescales a PNG (bilinear + PNG re-encode)") {
    import spark.implicits._
    implicit val enc = org.apache.spark.sql.Encoders.product[MediaRow]
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", out))
      out.toByteArray
    }
    val media = Seq(
      MediaRow(1L, "image/png", png(100, 40)),   // downscale 2x
      MediaRow(2L, "image/png", png(30, 10)),    // under cap: untouched
      MediaRow(3L, "application/octet-stream",   // not an image: untouched
        Array.tabulate[Byte](64)(_.toByte))).toDS()
    val got = resizeImage(media, maxDim = 50)
      .collect().map(r => r.doc_id -> r).toMap
    val d1 = decodeImage(got(1L).bytes)
    assert(d1.contains((50, 20, "png")), d1.toString) // aspect preserved
    assert(got(2L).bytes.sameElements(media.collect()(1).bytes))
    assert(got(3L).bytes.length == 64)
  }

  test("sampleFramesGif extracts REAL animated-GIF frames at the stride") {
    import spark.implicits._
    implicit val enc = org.apache.spark.sql.Encoders.product[MediaRow]
    // build a 5-frame animated GIF with the JDK's sequence writer
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    (0 until 5).foreach { i =>
      val img = new java.awt.image.BufferedImage(
        8, 6, java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, i * 40)
      writer.writeToSequence(
        new javax.imageio.IIOImage(img, null, null), null)
    }
    writer.endWriteSequence(); ios.close(); writer.dispose()
    val gif = bos.toByteArray
    val media = Seq(
      MediaRow(1L, "image/gif", gif),
      MediaRow(2L, "application/octet-stream",  // fallback: byte slices
        Array.tabulate[Byte](10)(_.toByte))).toDS()
    val got = sampleFramesGif(media, stride = 2, fallbackFrameBytes = 4)
      .collect().groupBy(_.doc_id)
    // real path: original-sequence indices 0,2,4; every frame decodes
    // as a true 8x6 PNG
    assert(got(1L).map(_.frame_idx).sorted.toSeq == Seq(0, 2, 4))
    assert(got(1L).forall(f => decodeImage(f.bytes).contains((8, 6, "png"))))
    // fallback path: 10 bytes in 4-byte slices -> indices 0, 2
    assert(got(2L).map(_.frame_idx).sorted.toSeq == Seq(0, 2))
  }

  test("decodeAudio reads REAL WAV header metadata via javax.sound") {
    import spark.implicits._
    implicit val enc = org.apache.spark.sql.Encoders.product[MediaRow]
    // 16-bit mono PCM, 8 kHz, 1600 frames = 200 ms
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val raw = new Array[Byte](1600 * 2)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(raw), fmt, 1600L)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val media = Seq(
      MediaRow(1L, "audio/wav", bos.toByteArray),
      MediaRow(2L, "application/octet-stream",
        Array.tabulate[Byte](32)(_.toByte))).toDS()
    val got = decodeAudio(media).collect().map(m => m.doc_id -> m).toMap
    assert(got(1L).encoding == "pcm_signed" && got(1L).sample_rate == 8000f &&
      got(1L).channels == 1 && got(1L).frames == 1600L &&
      math.abs(got(1L).duration_ms - 200.0) < 1e-9, got(1L).toString)
    assert(got(2L).encoding == "unknown")
    // printable audio magics in TEXT must not reach the providers —
    // same impersonation class as the "BM"/"GIF8" image gate
    def b(s: String) = s.getBytes("UTF-8")
    assert(audioMeta(b("RIFF through the amplifier, WAVE after wave")).isEmpty)
    assert(audioMeta(b("FORM follows function — AIFF was Apple's")).isEmpty)
    assert(audioMeta(b(".snd files predate both, from Sun")).isEmpty)
  }

  test("resize caps payload bytes deterministically") {
    import spark.implicits._
    implicit val enc = org.apache.spark.sql.Encoders.product[MediaRow]
    val media = Seq(MediaRow(1L, "image/fake", Array.tabulate[Byte](1000)(_.toByte)),
      MediaRow(2L, "image/fake", Array.fill[Byte](10)(3))).toDS()
    val out = resize(media, 100).collect().map(r => r.doc_id -> r.bytes).toMap
    assert(out(1L).length <= 100 && out(1L).length > 50)
    assert(out(2L).length == 10) // under budget untouched
    val again = resize(media, 100).collect().map(r => r.doc_id -> r.bytes.toSeq).toMap
    assert(again(1L) == out(1L).toSeq)
  }

  test("sampleFrames strides fixed-size chunks") {
    import spark.implicits._
    implicit val enc = org.apache.spark.sql.Encoders.product[MediaRow]
    val media = Seq(MediaRow(1L, "video/fake", Array.fill[Byte](100)(7))).toDS()
    val frames = sampleFrames(media, frameBytes = 10, stride = 2).collect()
    assert(frames.map(_.frame_idx).toSeq == Seq(0, 2, 4, 6, 8))
  }

  test("extractFeatures emits fixed-dim deterministic vectors") {
    val docs = graft.Graft.table(spark, sf, "documents").limit(5)
    val f = extractFeatures(asMedia(docs, "doc_id", "text"), dim = 8).collect()
    assert(f.forall(_.getSeq[Float](1).length == 8))
  }
}
