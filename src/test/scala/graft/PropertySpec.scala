package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.llm.Dedup
import graft.operators.Relational
import graft.sql.Sql
import graft.types.AthenaTypes

/** Property-based checks for the pure/semantic cores: the type
  * bridge round-trips arbitrary nested types, canonicalization is
  * idempotent and quote-preserving, and the distributed ntile exactly
  * matches Spark's window ntile on arbitrary data.
  */
class PropertySpec extends SparkSpec {

  /** Deterministic property driver: evaluate the generator across
    * fixed seeds (scalatestplus isn't on the offline classpath, so
    * this drives ScalaCheck Gens directly).
    */
  private def forAllSeeded[A](gen: Gen[A], cases: Int = 40)(check: A => Unit): Unit =
    (1 to cases).foreach { i =>
      gen(Gen.Parameters.default, Seed(i.toLong)).foreach(check)
    }
  import spark.implicits._

  private val scalarTypes = Gen.oneOf("tinyint", "smallint", "int",
    "bigint", "float", "double", "boolean", "string", "timestamp",
    "date", "binary", "decimal(10,2)")

  private def nestedType(depth: Int): Gen[String] =
    if (depth <= 0) scalarTypes
    else Gen.frequency(
      4 -> scalarTypes,
      1 -> nestedType(depth - 1).map(t => s"array<$t>"),
      1 -> (for {
        k <- Gen.oneOf("string", "int")
        v <- nestedType(depth - 1)
      } yield s"map<$k,$v>"),
      1 -> (for {
        n <- Gen.chooseNum(1, 3)
        ts <- Gen.listOfN(n, nestedType(depth - 1))
      } yield ts.zipWithIndex
        .map { case (t, i) => s"f$i:$t" }.mkString("struct<", ",", ">")))

  test("athena type strings round-trip through the Spark bridge") {
    forAllSeeded(nestedType(3)) { t =>
      val spark1 = AthenaTypes.toSpark(t)
      val back = AthenaTypes.fromSpark(spark1)
      // the round trip must be a fixed point (synonyms collapse on
      // the first pass: int/integer, char/varchar → string)
      assert(AthenaTypes.toSpark(back) == spark1)
      assert(AthenaTypes.fromSpark(AthenaTypes.toSpark(back)) == back)
    }
  }

  test("sql canonicalization is idempotent and quote-preserving") {
    // bounded construction, not suchThat: a filtered generator returns
    // None for most seeds and forAllSeeded would silently skip them
    val sqlGen = for {
      kw <- Gen.oneOf("SELECT", "select", "SeLeCt")
      n <- Gen.chooseNum(0, 15)
      lit <- Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString)
      ws <- Gen.oneOf(" ", "  ", "\n", "\t ")
    } yield s"$kw *${ws}FROM t${ws}WHERE c = '$lit';"
    forAllSeeded(sqlGen) { sql =>
      val c1 = Sql.canonicalize(sql)
      assert(Sql.canonicalize(c1) == c1) // idempotent
      // the literal survives byte-for-byte
      val lit = sql.substring(sql.indexOf('\'') + 1, sql.lastIndexOf('\''))
      assert(c1.contains(s"'$lit'"))
    }
  }

  test("asOfJoin equals the naive at-or-before lookup on random event sets") {
    val cases = for {
      nLeft <- Gen.chooseNum(0, 25)
      nRight <- Gen.chooseNum(0, 25)
      keys <- Gen.chooseNum(1, 4)
      lefts <- Gen.listOfN(nLeft,
        Gen.zip(Gen.chooseNum(0L, keys.toLong - 1), Gen.chooseNum(0L, 50L)))
      rights <- Gen.listOfN(nRight,
        Gen.zip(Gen.chooseNum(0L, keys.toLong - 1), Gen.chooseNum(0L, 50L)))
    } yield (lefts, rights)
    forAllSeeded(cases, cases = 12) { case (lefts, rights) =>
      val left = lefts.zipWithIndex
        .map { case ((k, t), i) => (i.toLong, k, t) }
        .toDF("eid", "k", "t")
      // dedupe (k, time) on the right — ties among right rows at one
      // timestamp are documented as arbitrary, so the property pins
      // only the deterministic contract
      val right = rights.distinct.zipWithIndex
        .map { case ((k, t), i) => (k, t, i.toLong + 1000) }
        .toDF("k", "r_t", "r_v")
        .groupBy("k", "r_t").agg(min("r_v").as("r_v"))
      val got = Relational.asOfJoin(left, right, Seq("k"), "t", "r_t")
        .select("eid", "r_t", "r_v")
        .as[(Long, Option[Long], Option[Long])].collect().toSet
      val naive = left.as("l")
        .join(right.as("r"),
          $"l.k" === $"r.k" && $"l.t" >= $"r.r_t", "left")
        .groupBy($"l.eid".as("eid"))
        .agg(max(struct($"r.r_t", $"r.r_v")).as("m"))
        .select($"eid", $"m.r_t", $"m.r_v")
        .as[(Long, Option[Long], Option[Long])].collect().toSet
      assert(got == naive)
    }
  }

  test("rangeJoin equals the naive BETWEEN join on random intervals") {
    val cases = for {
      nPts <- Gen.chooseNum(0, 30)
      nRanges <- Gen.chooseNum(0, 10)
      binWidth <- Gen.oneOf(1.0, 3.0, 7.5, 100.0)
      pts <- Gen.listOfN(nPts, Gen.chooseNum(0, 100))
      ranges <- Gen.listOfN(nRanges,
        Gen.zip(Gen.chooseNum(0, 100), Gen.chooseNum(0, 40)))
    } yield (pts, ranges, binWidth)
    forAllSeeded(cases, cases = 12) { case (pts, ranges, binWidth) =>
      val points = pts.zipWithIndex
        .map { case (p, i) => (i.toLong, p.toDouble) }
        .toDF("pid", "x")
      val bands = ranges.zipWithIndex
        .map { case ((lo, w), i) => (i.toLong, lo.toDouble, (lo + w).toDouble) }
        .toDF("band_id", "lo", "hi")
      val got = Relational.rangeJoin(points, bands, "x", "lo", "hi",
          binWidth)
        .select("pid", "band_id").as[(Long, Long)].collect().sorted
      val naive = points.join(bands, $"x" >= $"lo" && $"x" < $"hi")
        .select("pid", "band_id").as[(Long, Long)].collect().sorted
      assert(got.toSeq == naive.toSeq)
    }
  }

  test("ntileBucketed equals window ntile for arbitrary n and k") {
    val cases = for {
      n <- Gen.chooseNum(1, 60)
      k <- Gen.chooseNum(1, 10)
    } yield (n, k)
    forAllSeeded(cases, cases = 15) { case (n, k) =>
      val df = (1 to n).map(i => (i.toLong, (i * 37 % 11).toDouble))
        .toDF("id", "v")
      val expect = df.withColumn("b",
          ntile(k).over(Window.orderBy($"v".asc, $"id".asc)).cast("long"))
        .select("id", "b").as[(Long, Long)].collect().toMap
      val got = Relational.ntileBucketed(df, k,
          Seq($"v".asc, $"id".asc), "b", numPartitions = Some(3))
        .select("id", "b").as[(Long, Long)].collect().toMap
      assert(got == expect)
    }
  }

  // ---- dedup recall/precision contract ------------------------------

  /** Driver-side replica of the operator's shingle definition:
    * distinct lowercase char-k-grams with the same short-text edge
    * (texts under k chars yield one whole-text shingle).
    */
  private def charShingles(text: String, k: Int = 4): Set[String] = {
    val t = text.toLowerCase
    (1 to math.max(t.length - (k - 1), 1)).map { i =>
      t.substring(i - 1, math.min(i - 1 + k, t.length))
    }.toSet
  }

  private def exactJaccard(a: String, b: String): Double = {
    val (sa, sb) = (charShingles(a), charShingles(b))
    sa.intersect(sb).size.toDouble / sa.union(sb).size.toDouble
  }

  /** Driver-side replica of simhashSignatures: token hash = first 15
    * md5 hex chars as a long; bit b set iff set-votes ≥ half.
    */
  private def simhash60(text: String): Long = {
    val hs = text.toLowerCase.split("\\s+").map { t =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.substring(0, 15), 16)
    }
    (0 until 60).map { b =>
      if (2 * hs.count(h => ((h >> b) & 1L) == 1L) >= hs.length) 1L << b
      else 0L
    }.sum
  }

  /** Word-soup corpora: a few base docs plus mutated copies (one
    * token swapped), so random cases contain true near-dups, exact
    * dups, and a moderate-similarity background — the regime the LSH
    * prefilters have to get right.
    */
  private val corpusGen: Gen[List[String]] = {
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    val docGen = Gen.chooseNum(5, 16)
      .flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    for {
      nBase <- Gen.chooseNum(4, 7)
      bases <- Gen.listOfN(nBase, docGen)
      nMut <- Gen.chooseNum(1, 4)
      muts <- Gen.listOfN(nMut, for {
        bi <- Gen.chooseNum(0, nBase - 1)
        pos <- Gen.chooseNum(0, 40)
        w <- word
      } yield (bi, pos, w))
    } yield bases ++ muts.map { case (bi, pos, w) =>
      val toks = bases(bi).split(" ")
      toks.updated(pos % toks.length, w).mkString(" ")
    }
  }

  test("minhashNearDups equals brute-force Jaccard on random corpora") {
    // zero false positives ALWAYS (every pair is exact-verified) and
    // zero false negatives at ≥ threshold: with b=32, r=4 the candidate
    // miss probability at J=0.8 is (1−J⁴)^32 ≈ 5e-8 and the 6σ
    // estimate-prefilter miss is ~1e-9 — both far below what ~dozens
    // of random cases could surface, so exact set equality is the
    // correct assertion (a tolerated miss would mask a logic bug).
    // The index probe is held to the same brute-force reference: the
    // first half of each corpus is indexed and probed with the second.
    def assertEqualsBruteForce(res: org.apache.spark.sql.DataFrame,
                               expected: Map[(Long, Long), Double],
                               what: String): Unit = {
      val got = res.collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      res.unpersist()
      assert(got.keySet == expected.keySet, what)
      expected.foreach { case (k, v) =>
        assert(math.abs(got(k) - v) < 1e-9, s"$what: jaccard of $k")
      }
    }
    forAllSeeded(corpusGen, cases = 10) { docsList =>
      val df = docsList.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val expected = (for {
        i <- docsList.indices; j <- docsList.indices if i < j
        jac = exactJaccard(docsList(i), docsList(j)) if jac >= 0.8
      } yield ((i.toLong, j.toLong), jac)).toMap
      assertEqualsBruteForce(
        Dedup.minhashNearDups(df, "doc_id", "text", threshold = 0.8),
        expected, s"minhash pairs differ; corpus=$docsList")

      val split = docsList.length / 2
      val indexed = df.filter($"doc_id" < split)
      val idx = tmpDir("prop-minhash-idx")
      Dedup.buildMinhashIndex(indexed, "doc_id", "text", idx)
      assertEqualsBruteForce(
        Dedup.probeMinhashIndex(idx, indexed,
          df.filter($"doc_id" >= split), "doc_id", "text", threshold = 0.8),
        expected.filter { case ((a, b), _) => a < split && b >= split },
        s"probe pairs differ; split=$split corpus=$docsList")
    }
  }

  /** Brute-force distinct word-n-gram Jaccard (driver-side replica of
    * ngramJaccardNearDups' semantics: trim+lower, whitespace split,
    * partial trailing grams via slice).
    */
  private def wordGramJaccard(a: String, b: String, n: Int): Double = {
    def grams(s: String): Set[String] = {
      val t = s.trim.toLowerCase.split("\\s+").toSeq
      (1 to math.max(t.length - (n - 1), 1))
        .map(i => t.slice(i - 1, i - 1 + n).mkString(" ")).toSet
    }
    val (ga, gb) = (grams(a), grams(b))
    ga.intersect(gb).size.toDouble / ga.union(gb).size.toDouble
  }

  test("ngramJaccardNearDups equals brute-force Jaccard on random corpora") {
    // prefix filtering is DETERMINISTIC (candidate superset by the
    // prefix lemma, then exact verify) — so unlike the LSH operators
    // there is no probabilistic miss budget at all: the result must
    // EQUAL the all-pairs computation on every corpus, exactly
    forAllSeeded(corpusGen, cases = 10) { docsList =>
      val df = docsList.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val res = Dedup.ngramJaccardNearDups(df, "doc_id", "text",
        n = 3, threshold = 0.5)
      val got = res.collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      res.unpersist()
      val expected = (for {
        i <- docsList.indices; j <- docsList.indices if i < j
        jac = wordGramJaccard(docsList(i), docsList(j), 3) if jac >= 0.5
      } yield ((i.toLong, j.toLong), jac)).toMap
      assert(got.keySet == expected.keySet,
        s"jaccard pairs differ; corpus=$docsList")
      expected.foreach { case (k, v) =>
        assert(math.abs(got(k) - v) < 1e-9)
      }
    }
  }

  test("packSequences equals the sequential greedy reference on random inputs") {
    val gen = for {
      n <- Gen.chooseNum(1, 60)
      toks <- Gen.listOfN(n, Gen.chooseNum(1L, 400L))
    } yield toks
    forAllSeeded(gen, cases = 20) { toks =>
      val df = toks.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "n_tok")
      val got = graft.llm.TextAnalysis
        .packSequences(df, "doc_id", "n_tok", capacity = 256L, shards = 3)
        .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(3)))
      // driver-side replica: md5-mod shard, then greedy fold in id order
      def shardOf(id: Long): Int = {
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(id.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        (java.lang.Long.parseLong(md.substring(0, 15), 16) % 3).toInt
      }
      val expected = toks.indices.map(_.toLong)
        .groupBy(shardOf).toSeq.flatMap { case (shard, ids) =>
          var bin = -1L; var used = 0L
          ids.sorted.map { id =>
            val t = toks(id.toInt)
            if (bin < 0 || used + t > 256L) { bin += 1; used = 0L }
            used += t
            (id, shard, bin)
          }
        }.toSet
      assert(got.toSet == expected, s"packing differs; toks=$toks")
    }
  }

  test("qualityFilter equals a driver-side replica under whitespace noise") {
    import graft.llm.TextAnalysis
    val rules = TextAnalysis.QualityRules(minTokens = 3, maxTokens = 12,
      minAvgTokenLen = 2.0, maxAvgTokenLen = 6.0, maxSymbolFrac = 0.2,
      minAlphaTokenFrac = 0.6, minStopwordHits = 1)
    val word = Gen.oneOf("the", "cat", "a", "of", "##", "…", "x1",
      "longishword", "42", "mixed9z")
    val ws = Gen.oneOf(" ", "  ", "\t", " \t ", "\n")
    val docGen = for {
      n <- Gen.chooseNum(0, 14)
      toks <- Gen.listOfN(n, word)
      seps <- Gen.listOfN(n + 1, ws)
    } yield seps.head + toks.zip(seps.tail)
      .map { case (t, s) => t + s }.mkString
    forAllSeeded(Gen.listOfN(12, docGen), cases = 15) { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = TextAnalysis.qualityFilter(df, "doc_id", "text", rules)
        .select("doc_id", "ok_n_tokens", "ok_token_len", "ok_symbol",
          "ok_alpha", "ok_stopwords", "keep")
        .as[(Long, Int, Int, Int, Int, Int, Int)].collect().toSet
      val stopSet = TextAnalysis.stopwords("en").toSet
      val expected = docs.zipWithIndex.map { case (t, i) =>
        val toks = t.trim.toLowerCase.split("\\s+").toSeq
          .filter(_.nonEmpty)
        val n = toks.size
        def flag(b: Boolean) = if (b) 1 else 0
        val nonWs = toks.map(_.length).sum.toDouble
        val nSym = toks.map(w => w.count(_ == '#') + w.count(_ == '…') +
          "\\.\\.\\.".r.findAllIn(w).size).sum.toDouble
        val nAlpha = toks.count(_.exists(c => c >= 'a' && c <= 'z'))
        val nStop = toks.count(stopSet.contains)
        val okN = flag(n >= 3 && n <= 12)
        val okLen = flag(n > 0 && nonWs / n >= 2.0 && nonWs / n <= 6.0)
        val okSym = flag(n > 0 && nSym / n <= 0.2)
        val okAlpha = flag(n > 0 && nAlpha.toDouble / n >= 0.6)
        val okStop = flag(nStop >= 1)
        (i.toLong, okN, okLen, okSym, okAlpha, okStop,
          okN * okLen * okSym * okAlpha * okStop)
      }.toSet
      assert(got == expected, s"quality flags differ; docs=$docs")
    }
  }

  test("trainBpeMerges equals the in-memory reference on random corpora") {
    import graft.llm.Bpe
    def refTrain(words: Seq[(String, Long)],
                 numMerges: Int): List[(String, String)] = {
      var w = words.map { case (k, c) => (k.map(_.toString).toArray, c) }
      val ms = scala.collection.mutable.ListBuffer.empty[(String, String)]
      var stop = false
      while (ms.size < numMerges && !stop) {
        val counts = scala.collection.mutable
          .Map.empty[(String, String), Long].withDefaultValue(0L)
        w.foreach { case (syms, c) =>
          (0 until syms.length - 1)
            .foreach(i => counts((syms(i), syms(i + 1))) += c)
        }
        if (counts.isEmpty) stop = true
        else {
          val top = counts.toSeq
            .sortBy { case ((a, b), c) => (-c, a, b) }.head._1
          ms += top
          w = w.map { case (s, c) =>
            (if (s.length > 1) Bpe.applyMerge(s, top._1, top._2) else s, c)
          }
        }
      }
      ms.toList
    }
    forAllSeeded(corpusGen, cases = 6) { docsList =>
      val df = docsList.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      // default path = in-memory delta trainer (tier 1); forcing
      // maxDriverWords = 0 exercises the distributed batched rounds —
      // both must replay the full-recount reference exactly. 20
      // merges on a 10-word vocabulary drives both paths deep into
      // tie territory (most pair counts equal), where a tie-break or
      // delta-bookkeeping bug would surface
      val got = Bpe.trainBpeMerges(df, "text", numMerges = 20)
      val gotDist = Bpe.trainBpeMerges(df, "text", numMerges = 20,
        maxDriverWords = 0)
      val wordCounts = docsList
        .flatMap(_.trim.toLowerCase.split("\\s+")).filter(_.nonEmpty)
        .groupBy(identity).map { case (w, ws) => (w, ws.size.toLong) }
        .toSeq
      val ref = refTrain(wordCounts, 20)
      assert(got == ref, s"tier-1 merges differ; corpus=$docsList")
      assert(gotDist == ref,
        s"distributed merges differ; corpus=$docsList")
    }
  }

  test("removeDuplicatedSpans equals a literal positional replay on random corpora") {
    forAllSeeded(corpusGen, cases = 10) { docsList =>
      val docs = docsList.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val n = 3
      val got = Dedup.removeDuplicatedSpans(
          docs.toDF("doc_id", "text"), "doc_id", "text",
          n = n, minDocs = 2)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSet
      // driver-side replica: positioned grams, cross-doc frequency,
      // covered positions, survivor rejoin
      val toks = docs.map { case (id, t) =>
        id -> t.trim.toLowerCase.split("\\s+").toSeq }.toMap
      val gramRows = toks.toSeq.flatMap { case (id, ts) =>
        if (ts.length < n) Nil
        else (0 to ts.length - n).map(i =>
          (id, i, ts.slice(i, i + n).mkString(" ")))
      }
      val dupGrams = gramRows.map { case (id, _, g) => (g, id) }.distinct
        .groupBy(_._1).collect { case (g, ds) if ds.size >= 2 => g }.toSet
      val expected = toks.map { case (id, ts) =>
        val covered = gramRows.collect {
          case (i2, p, g) if i2 == id && dupGrams(g) =>
            p until (p + n)
        }.flatten.toSet
        val kept = ts.zipWithIndex.collect {
          case (w, p) if !covered(p) => w }
        (id, ts.length.toLong, (ts.length - kept.length).toLong,
          kept.mkString(" "))
      }.toSet
      assert(got == expected, s"span removal differs; corpus=$docsList")
    }
  }

  test("removeDuplicatedLines equals a literal replay on random corpora") {
    forAllSeeded(corpusGen, cases = 10) { docsList =>
      // synthesize line structure: every 3 words become one line
      val docs = docsList.zipWithIndex.map { case (t, i) =>
        (i.toLong,
          t.trim.split("\\s+").grouped(3).map(_.mkString(" "))
            .mkString("\n"))
      }
      val got = Dedup.removeDuplicatedLines(
          docs.toDF("doc_id", "text"), "doc_id", "text")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSet
      // driver-side replica: distinct-doc frequency over non-blank
      // lines, removal, order-preserving rejoin
      val lines = docs.map { case (id, t) =>
        id -> t.split("\n", -1).toSeq }.toMap
      val dupSet = lines.toSeq.flatMap { case (id, ls) =>
          ls.filter(_.trim.nonEmpty).distinct.map(_ -> id)
        }.groupBy(_._1).collect { case (l, ds) if ds.size >= 2 => l }
        .toSet
      val expected = lines.map { case (id, ls) =>
        val kept = ls.filterNot(dupSet)
        (id, ls.length.toLong, (ls.length - kept.length).toLong,
          kept.mkString("\n"))
      }.toSet
      assert(got == expected, s"line removal differs; corpus=$docsList")
    }
  }

  test("contaminationCheck equals brute-force gram intersection on random corpora") {
    forAllSeeded(corpusGen, cases = 10) { docsList =>
      val (corpusDocs, evalDocs) = docsList.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
        .partition(_._1 % 3 != 0)
      if (corpusDocs.nonEmpty && evalDocs.nonEmpty) {
        val n = 3
        val got = Dedup.contaminationCheck(
            corpusDocs.toDF("doc_id", "text"), "doc_id", "text",
            evalDocs.toDF("doc_id", "text"), "doc_id", "text", n = n)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toSet
        def grams(s: String): Set[String] = {
          val t = s.trim.toLowerCase.split("\\s+").toSeq
          (1 to math.max(t.length - (n - 1), 1))
            .map(i => t.slice(i - 1, i - 1 + n).mkString(" ")).toSet
        }
        val evalGrams = evalDocs.map { case (id, t) => id -> grams(t) }
        val expected = corpusDocs.flatMap { case (cid, ct) =>
          val cg = grams(ct)
          val shared = cg.filter(g => evalGrams.exists(_._2.contains(g)))
          val hitDocs = evalGrams.count(_._2.exists(shared.contains))
          if (shared.isEmpty) None
          else Some((cid, shared.size.toLong, hitDocs.toLong))
        }.toSet
        assert(got == expected, s"contamination differs; corpus=$docsList")
      }
    }
  }

  test("simhashNearDups equals brute-force Hamming on random corpora") {
    // pigeonhole chunking guarantees the candidate set is a superset,
    // and bit_count verification makes it exact — so the operator must
    // EQUAL the all-pairs computation, false-negative rate zero
    forAllSeeded(corpusGen, cases = 10) { docsList =>
      val df = docsList.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val res = Dedup.simhashNearDups(df, "doc_id", "text", maxHamming = 3)
      val got = res.collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      res.unpersist()
      val sigs = docsList.map(simhash60)
      val expected = (for {
        i <- docsList.indices; j <- docsList.indices if i < j
        h = java.lang.Long.bitCount(sigs(i) ^ sigs(j)) if h <= 3
      } yield ((i.toLong, j.toLong), h.toLong)).toMap
      assert(got == expected, s"simhash pairs differ; corpus=$docsList")
    }
  }

  test("chunkDocuments covers every token exactly; overlap is exact") {
    val word = Gen.oneOf("alpha", "beta", "gamma", "x", "yy")
    val gen = for {
      n <- Gen.choose(1, 60)
      words <- Gen.listOfN(n, word)
      chunk <- Gen.choose(1, 12)
      overlap <- Gen.choose(0, chunk - 1)
    } yield (words, chunk, overlap)
    forAllSeeded(gen, cases = 30) { case (words, chunk, overlap) =>
      val df = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
      val got = graft.llm.TextAnalysis.chunkDocuments(
          df, "doc_id", "text", chunk, overlap)
        .orderBy("chunk_id")
        .as[(Long, Long, Long, String)].collect().toSeq
      val step = chunk - overlap
      val n = words.size
      // chunk_ids are 0..ceil(n/step)-1 with the documented start rule
      val starts = 0 until n by step
      assert(got.map(_._2) == starts.indices.map(_.toLong),
        s"ids off for n=$n chunk=$chunk overlap=$overlap")
      got.zip(starts).foreach { case ((_, _, len, text), start) =>
        val expect = words.slice(start, math.min(start + chunk, n))
        assert(text == expect.mkString(" ") && len == expect.size,
          s"chunk at $start differs for chunk=$chunk overlap=$overlap")
      }
      // every token position is covered by at least one chunk
      val covered = starts.flatMap(s =>
        s until math.min(s + chunk, n)).toSet
      assert(covered == (0 until n).toSet)
    }
  }

  test("redactPii with default rules is idempotent on arbitrary text") {
    val piiGen = Gen.oneOf("a@b.com", "10.0.0.1", "123-45-6789",
      "u.x+1@d-e.org", "255.255.255.255")
    val fillerGen = Gen.oneOf("hello", "42", "a.b", "x@", "@y", "7.8.9",
      "12-34", " ")
    val gen = Gen.listOfN(12,
      Gen.frequency(3 -> fillerGen, 1 -> piiGen))
    forAllSeeded(gen, cases = 30) { toks =>
      val df = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
      val once = graft.llm.TextAnalysis
        .redactPii(df, "doc_id", "text")
        .select(col("doc_id"), col("redacted").as("text"))
      val twice = graft.llm.TextAnalysis
        .redactPii(once, "doc_id", "text")
      val (a, b) = (once.as[(Long, String)].head()._2,
        twice.select("doc_id", "redacted").as[(Long, String)].head()._2)
      assert(a == b, s"not idempotent on: ${toks.mkString(" ")}")
      // and the second pass counts zero remaining PII
      val counts = twice.select("n_email", "n_ip", "n_ssn")
        .as[(Long, Long, Long)].head()
      assert(counts == ((0L, 0L, 0L)))
    }
  }

  test("cdcChunkDocuments equals the reference on random corpora") {
    // random docs incl. empty, single-token, and repeated-token
    // shapes; every doc's chunks must equal a straight-line replay of
    // the boundary rule + greedy cut walk (independent code path)
    val docGen = for {
      n <- Gen.chooseNum(0, 60)
      toks <- Gen.listOfN(n,
        Gen.oneOf("a", "b", "cat", "dog", "xyz", "Qq", "zz9"))
    } yield toks.mkString(" ")
    def ref(text: String, w: Int, dv: Int, minT: Int,
            maxT: Int): Seq[(Long, Long, String)] = {
      val toks = text.trim.toLowerCase.split("\\s+", -1).toSeq
      val md = java.security.MessageDigest.getInstance("MD5")
      val bounds = (w to toks.length).filter { i =>
        val hex = md.digest(toks.slice(i - w, i).mkString(" ")
            .getBytes("UTF-8")).map(b => f"$b%02x").mkString
        java.lang.Long.parseLong(hex.take(15), 16) % dv == dv - 1
      }
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, String)]
      var start = 1
      while (start <= toks.length) {
        val cut = bounds
          .find(b => b >= start + minT - 1 && b <= start + maxT - 1)
          .getOrElse(math.min(start + maxT - 1, toks.length))
        val end = math.min(cut, toks.length)
        out += ((start.toLong, (end - start + 1).toLong,
          toks.slice(start - 1, end).mkString(" ")))
        start = end + 1
      }
      out.toSeq
    }
    forAllSeeded(Gen.listOfN(6, docGen), cases = 12) { docsList =>
      val df = docsList.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("id", "txt")
      // tight divisor + clamps so random docs hit boundary, min-clamp,
      // and max-clamp paths
      val got = graft.llm.TextAnalysis.cdcChunkDocuments(df, "id",
          "txt", windowTokens = 2, divisor = 4, minTokens = 2,
          maxTokens = 7)
        .collect().groupBy(_.getLong(0))
        .view.mapValues(_.sortBy(_.getLong(1))
          .map(r => (r.getLong(2), r.getLong(3), r.getString(4)))
          .toSeq).toMap
      docsList.zipWithIndex.foreach { case (t, i) =>
        assert(got.getOrElse(i.toLong, Nil) === ref(t, 2, 4, 2, 7),
          s"doc $i diverges: '$t'")
      }
    }
  }

  test("dsirLogWeights is invariant to partitioning and row order") {
    val docs = Tables.read(spark, sf, "documents").limit(120)
    val target = docs.filter(col("lang") === "en")
    def weights(raw: org.apache.spark.sql.DataFrame): Map[Long, Double] = {
      val w = graft.llm.Selection.dsirLogWeights(raw, target,
        "doc_id", "text", numBuckets = 500)
      val m = w.collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
      w.unpersist(blocking = false)
      m
    }
    val base = weights(docs)
    val shuffled = weights(docs.repartition(13).orderBy(rand(7)))
    assert(base.keySet === shuffled.keySet)
    // identical gram multisets per doc ⇒ identical weights up to the
    // aggregation's summation order (ulp-level)
    base.foreach { case (id, v) =>
      assert(math.abs(v - shuffled(id)) < 1e-9, s"doc $id: $v vs ${shuffled(id)}")
    }
  }

  test("minhash_sigs equals per-component min(pmod(h*a + b, P)) on the affine domain") {
    // the aggregate's inlined division-free Mersenne fold must be
    // VALUE-identical to the pmod reduction on every input
    // signaturesOf can produce — h < P, a, b < 2^31 — or signatures
    // (and every persisted index) silently change. Random interior
    // points plus boundary cases where the conditional subtract
    // engages (h·a + b landing on multiples of P and the fold's carry
    // edges).
    graft.functions.GraftFunctions.register(spark)
    val P = 2147483647L
    val rnd = new scala.util.Random(17)
    // h sweeps the full row domain (edges + random); (a, b) is a
    // fixed panel of per-hash constants, mirroring how signaturesOf
    // embeds them (one constant array each in the plan)
    val hs = Seq(0L, 1L, 2L, P - 2, P - 1) ++
      Seq.fill(20000)(math.abs(rnd.nextLong()) % P)
    val params = Seq((1L, 0L), (1L, P - 1), (2L, 2L),
      (Int.MaxValue - 1L, Int.MaxValue - 1L), (1L << 30, 1L),
      (Int.MaxValue - 1L, 0L)) ++
      Seq.fill(6)((rnd.nextInt(Int.MaxValue - 1).toLong + 1L,
        rnd.nextInt(Int.MaxValue).toLong))
    // every h alone in a group (pins each folded value) AND in one of
    // 97 multi-row groups (pins the per-component min and merge)
    val rows = hs.zipWithIndex.flatMap { case (h, i) =>
      Seq((i.toLong, h), (-1L - i % 97, h))
    }.toDF("g", "h")
    def bySig(ms: Column): Map[Long, Seq[Long]] =
      rows.groupBy("g").agg(ms.as("ms")).as[(Long, Seq[Long])]
        .collect().toMap
    val got = bySig(call_function("minhash_sigs", col("h"),
      typedlit(params.map(_._1).toArray),
      typedlit(params.map(_._2).toArray)))
    val ref = bySig(array(params.map { case (a, b) =>
      min(pmod(col("h") * lit(a) + lit(b), lit(P)))
    }: _*))
    assert(got.size == hs.size + 97 && got.keySet == ref.keySet)
    val bad = got.collect { case (g, v) if v != ref(g) => (g, v, ref(g)) }
      .take(5)
    assert(bad.isEmpty, "minhash_sigs != min(pmod) at (group, got, want)")
  }
}
