package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funspec.AnyFunSpec

import graft.TestSpark

class OperatorsSpec extends AnyFunSpec {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"),    // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy cat"),    // near dup of 0
    (3L, "completely different content about spark engines"))
    .toDF("doc_id", "text")

  describe("Dedup.exact") {
    it("drops exact duplicate texts") {
      assert(Dedup.exact(docs, "text").count() == 3)
    }
  }

  describe("Dedup.shingles / minhash") {
    it("builds 3-word shingles") {
      val sh = docs.filter($"doc_id" === 3)
        .select(Dedup.shingles(TextAnalysis.tokens($"text")).as("sh"))
        .as[Seq[String]].head()
      assert(sh == Seq(
        "completely different content", "different content about",
        "content about spark", "about spark engines"))
    }
    it("identical docs get identical signatures; different docs differ") {
      val sigs = docs.select($"doc_id",
        Dedup.minhash(Dedup.shingles(TextAnalysis.tokens($"text")), 0).as("m"))
        .as[(Long, String)].collect().toMap
      assert(sigs(0L) == sigs(1L))
      assert(sigs(0L) != sigs(3L))
    }
  }

  describe("MinHashSigs native expression") {
    it("matches the declarative HOF pipeline exactly") {
      val both = docs.select(
        graft.functions.MinHashSigs($"text", 4).as("native"),
        Dedup.minhashIntSigs($"text", 4).as("hof"))
        .as[(Seq[Long], Seq[Long])].collect()
      both.foreach { case (n, h) => assert(n == h) }
    }
    it("returns null for docs with fewer than 3 tokens") {
      val r = Seq("one two").toDF("text")
        .select(graft.functions.MinHashSigs($"text", 4).as("s"))
        .collect()(0)
      assert(r.isNullAt(0))
    }
    it("declarative path agrees on short docs: empty shingles, null sigs") {
      val r = Seq("one two").toDF("text").select(
        Dedup.shingles(TextAnalysis.tokens($"text")).as("sh"),
        Dedup.minhashIntSigs($"text", 4).as("sigs"))
        .collect()(0)
      assert(r.getSeq[String](0).isEmpty)
      assert(r.isNullAt(1))
    }
  }

  describe("Dedup.candidatePairs (banded LSH)") {
    it("finds the exact-dup pair via bucketed join, never all-pairs") {
      val pairs = Dedup.candidatePairs(
        Dedup.minhashBands(docs, "doc_id", "text"), "doc_id")
        .as[(Long, Long)].collect().toSet
      assert(pairs.contains((0L, 1L)))
      assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    }
  }

  describe("Dedup.simhash16") {
    it("is deterministic, bounded, and identical for identical text") {
      val hs = docs.select($"doc_id",
        Dedup.simhash16(TextAnalysis.tokens($"text")).as("h"))
        .as[(Long, Long)].collect().toMap
      assert(hs(0L) == hs(1L))
      assert(hs.values.forall(h => h >= 0 && h < 65536))
      // near-dup should be closer in hamming distance than unrelated doc
      def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
      assert(ham(hs(0L), hs(2L)) <= ham(hs(0L), hs(3L)))
    }
  }

  describe("Dedup.jaccard") {
    it("is 1.0 for identical sets and 0.0 for disjoint sets") {
      val j = docs.as("a").join(docs.as("b"),
          $"a.doc_id" === 0 && $"b.doc_id" === 1)
        .select(Dedup.jaccard(
          array_distinct(TextAnalysis.tokens($"a.text")),
          array_distinct(TextAnalysis.tokens($"b.text"))).as("j"))
        .as[Double].head()
      assert(j == 1.0)
    }
  }

  describe("Similarity") {
    it("cosine of a vector with itself is ~1, orthogonal is 0") {
      val df = Seq(
        (0L, Array(1.0f, 0.0f, 0.0f)),
        (1L, Array(1.0f, 0.0f, 0.0f)),
        (2L, Array(0.0f, 1.0f, 0.0f)),
        (3L, Array(0.6f, 0.8f, 0.0f))).toDF("vec_id", "embedding")
      val top = Similarity.cosineTopK(spark, df, "vec_id", "embedding", 0L, 3)
        .as[(Long, Double)].collect()
      assert(top.head == ((1L, 1.0)))
      assert(top.map(_._1).toSeq == Seq(1L, 3L, 2L))
      assert(math.abs(top(1)._2 - 0.6) < 1e-6)  // 0.6f/0.8f are inexact in binary
      assert(top(2)._2 == 0.0)
    }
    it("cosineTopKBatch agrees with per-query cosineTopK and Fusion.rrf " +
       "matches a plain-Scala RRF reference") {
      val rnd = new scala.util.Random(17)
      val df = (0L to 19L).map(i =>
        (i, Array.fill(6)(rnd.nextFloat() * 2f - 1f))).toDF("vec_id", "embedding")
      val qv = df.filter($"vec_id".isin(1L, 2L))
        .select($"vec_id".as("query_id"),
          Similarity.asDouble($"embedding").as("qv"))
      val batch = Similarity.cosineTopKBatch(df, "vec_id", "embedding", qv, k = 5)
        .as[(Long, Long, Long, Double)].collect().toSeq.sorted
      val single = Seq(1L, 2L).flatMap { q =>
        Similarity.cosineTopK(spark, df, "vec_id", "embedding", q, 5)
          .as[(Long, Double)].collect().toSeq.zipWithIndex
          .map { case ((d, c), i) =>
            (q, i + 1L, d, BigDecimal(c).setScale(9,
              BigDecimal.RoundingMode.HALF_UP).toDouble) }
      }.sorted
      assert(batch == single)
      // RRF: two rank lists with overlap; reference computed by hand math
      val lex = Seq((1L, 1L, 10L), (1L, 2L, 11L), (1L, 3L, 12L))
        .toDF("query_id", "rk", "doc_id")
      val sem = Seq((1L, 1L, 12L), (1L, 2L, 13L))
        .toDF("query_id", "rk", "doc_id")
      val fused = graft.operators.Fusion.rrf(Seq(lex, sem), k = 10)
        .as[(Long, Long, Long, Double)].collect().toSeq.sortBy(_._2)
      def c(r: Long) = BigDecimal(1.0 / (60 + r)).setScale(9,
        BigDecimal.RoundingMode.HALF_UP)
      val ref = Map(10L -> c(1), 11L -> c(2), 12L -> (c(3) + c(1)),
          13L -> c(2))
        .map { case (d, s) => (d, s.setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble) }
      val want = ref.toSeq.sortBy { case (d, s) => (-s, d) }.zipWithIndex
        .map { case ((d, s), i) => (1L, i + 1L, d, s) }
      assert(fused == want)
    }
    it("sign buckets prune to the query's bucket") {
      val df = Seq(
        (0L, Array.fill(8)(1.0f)),
        (1L, Array.fill(8)(0.5f)),
        (2L, Array.fill(8)(-1.0f))).toDF("vec_id", "embedding")
      val hits = Similarity.bucketTopK(spark, df, "vec_id", "embedding", 0L, 5)
        .select("vec_id").as[Long].collect().toSet
      assert(hits == Set(1L))
    }
    it("nnDescentTopK reranks the expanded candidate set exactly") {
      // All five share a sign bucket; probe 0's true order by cosine is
      // 1 (colinear), 3, 2, 4 — the NoN expansion + rerank must surface
      // it capped at k with ranks 1..k.
      val df = Seq(
        (0L, Array(1.0f, 0.1f, 0.0f)),
        (1L, Array(2.0f, 0.2f, 0.0f)),
        (2L, Array(1.0f, 1.0f, 0.0f)),
        (3L, Array(1.0f, 0.5f, 0.0f)),
        (4L, Array(0.1f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
      val out = Similarity
        .nnDescentTopK(df, "vec_id", "embedding", k = 2, bits = 2, probeMax = 1L)
        .as[(Long, Long, Long, Double)].collect()
      assert(out.map(r => (r._1, r._2, r._3)).toSeq ==
        Seq((0L, 1L, 1L), (0L, 2L, 3L)))
      assert(out.head._4 == 1.0)
    }
  }

  describe("HeavyHitters (Misra-Gries candidates + exact recount)") {
    it("returns the exact top-k under heavy sketch eviction") {
      // 10 distinct keys through a capacity-3 sketch: "a" (20 of 29
      // rows, > N/m ≈ 9.7) must survive the decrement passes in every
      // partitioning; the recount makes its count exact.
      val keys = (Seq.fill(20)("a") ++ ('b' to 'j').map(_.toString))
      val df = keys.toDF("k").repartition(2)
      val top = HeavyHitters.topK(df, "k", k = 1, m = 3)
        .as[(String, Long)].collect().toSeq
      assert(top == Seq(("a", 20L)))
    }
  }

  describe("TextAnalysis") {
    it("counts tokens and stopwords exactly") {
      val r = docs.filter($"doc_id" === 0).select(
        TextAnalysis.tokenCount(TextAnalysis.tokens($"text")).as("n"),
        TextAnalysis.stopwordCount(TextAnalysis.tokens($"text")).as("s"),
        TextAnalysis.langGuess(TextAnalysis.tokens($"text")).as("g"))
        .as[(Long, Long, String)].head()
      assert(r == ((9L, 2L, "en")))   // "the" twice
    }

    it("chunkExprs matches a reference chunker across window regimes") {
      def ref(n: Int, size: Int, overlap: Int): Seq[(Long, Long)] = {
        val step = size - overlap
        val nc = if (n <= size) 1
          else math.ceil((n - overlap).toDouble / step).toInt
        (0 until nc).map(i =>
          (i.toLong, math.min(size, n - i * step).toLong))
      }
      // n<size (one short chunk), n==size (one exact), boundary
      // multiples, a tail shorter than size but longer than overlap
      for ((n, size, overlap) <- Seq((3, 4, 1), (4, 4, 1), (10, 4, 1),
          (11, 4, 1), (12, 4, 1), (100, 64, 16), (65, 64, 16))) {
        val text = (1 to n).map(i => s"t$i").mkString(" ")
        val got = Seq(text).toDF("text")
          .select(explode(TextAnalysis
            .chunkExprs(col("text"), size, overlap)).as("c"))
          .select(col("c.chunk_id"), col("c.n_tokens"), col("c.chunk"))
          .as[(Long, Long, String)].collect().toSeq.sortBy(_._1)
        assert(got.map(g => (g._1, g._2)) == ref(n, size, overlap),
          s"n=$n size=$size overlap=$overlap")
        // every token appears; consecutive chunks share `overlap`
        // tokens (except a short tail); chunks reassemble the doc
        val step = size - overlap
        got.foreach { case (i, len, chunk) =>
          val want = (1 to n).slice((i * step).toInt,
            (i * step).toInt + size).map(j => s"t$j").mkString(" ")
          assert(chunk == want, s"chunk $i content")
        }
      }
    }
  }

  describe("LangId (trigram profile classifier)") {
    def corpus = Seq(
      (0L, "aaab aaac aaad aaab aaac", "aa"),
      (1L, "aaab aaad aaab aaac aaae", "aa"),
      (2L, "zzzy zzzx zzzw zzzy zzzx", "zz"),
      (3L, "zzzy zzzw zzzy zzzx zzzv", "zz"))
      .toDF("doc_id", "text", "lang")

    it("charTrigrams slides over the lowercased text; short text is empty") {
      val r = Seq("AbCd", "ab").toDF("t")
        .select(LangId.charTrigrams($"t").as("g"))
        .as[Seq[String]].collect()
      assert(r(0) == Seq("abc", "bcd"))
      assert(r(1) == Seq.empty)
    }
    it("self-classifies a separable corpus perfectly") {
      val prof = LangId.profiles(corpus, "text", "lang")
      val pred = LangId.classify(corpus, "doc_id", "text", "lang", prof)
        .as[(Long, String, String)].collect().toSeq.sortBy(_._1)
      assert(pred.forall { case (_, truth, p) => truth == p },
        s"misclassified: $pred")
    }
    it("profiles are capped and ranked deterministically") {
      val prof = LangId.profiles(corpus, "text", "lang")
        .as[(String, String, Int)].collect()
      assert(prof.groupBy(_._1).values.forall(_.length <= LangId.ProfileSize))
      // rank 1 of 'aa' is the most frequent trigram with lexicographic
      // tie-break: "aaa" appears in every token
      assert(prof.filter(p => p._1 == "aa" && p._3 == 1).head._2 == "aaa")
    }
  }

  describe("Contamination (benchmark n-gram overlap)") {
    def train = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),       // contains bench 5-gram
      (1L, "one two three four five six seven"),          // clean
      (2L, "alpha beta gamma delta epsilon other words")) // contaminated prefix
      .toDF("doc_id", "text")
    def bench = Seq((100L, "xx alpha beta gamma delta epsilon yy"))
      .toDF("doc_id", "text")

    it("flags exactly the docs sharing a word 5-gram with the benchmark") {
      val bs = Contamination.shingleSet(bench, "text", 5)
      val stats = Contamination.stats(train, Seq("doc_id"), "text", bs, 5)
        .as[(Long, Long, Long)].collect()
        .map { case (id, _, hits) => id -> hits }.toMap
      assert(stats(0L) > 0 && stats(2L) > 0 && stats(1L) == 0)
    }
    it("bloom variant agrees on this corpus (no false negatives)") {
      val flags = Contamination
        .bloomFlag(train, "doc_id", "text", bench, "text", 5, 1000L, 0.001)
        .as[(Long, Boolean)].collect().toMap
      assert(flags(0L) && flags(2L) && !flags(1L))
    }
    it("bloom probe is codegen'd: no ScalaUDF in the corpus-side plan") {
      // ADVICE r13: the corpus-side scan must stay inside whole-stage
      // codegen — BloomFilterMightContain, not a deserializing UDF.
      val plan = Contamination
        .bloomFlag(train, "doc_id", "text", bench, "text", 5, 1000L, 0.001)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("ScalaUDF"), plan)
      assert(plan.contains("might_contain"), plan)
    }
    it("bloom variant reports short docs as clean instead of dropping them") {
      val withShort = train.union(Seq((3L, "too short")).toDF("doc_id", "text"))
      val flags = Contamination
        .bloomFlag(withShort, "doc_id", "text", bench, "text", 5, 1000L, 0.001)
        .as[(Long, Boolean)].collect().toMap
      assert(flags.keySet == Set(0L, 1L, 2L, 3L) && !flags(3L))
    }
    it("nearDupFlags catches a shingle-preserving paraphrase the " +
       "exact n-gram check misses, and ignores unrelated docs") {
      // corpus doc 1 = bench doc with ONE word swapped mid-way: long
      // shared 3-gram runs (MinHash collision near-certain), high
      // token Jaccard, but any exact 5-gram check across the swap
      // point sees different text
      val benchText = "alpha beta gamma delta epsilon zeta eta theta " +
        "iota kappa lambda mu"
      val para = benchText.replace("eta theta", "eta thetaX")
      val corpus = Seq(
        (1L, para),
        (2L, "one two three four five six seven eight nine ten"))
        .toDF("doc_id", "text")
      val bench = Seq((100L, benchText)).toDF("bench_id", "text")
      val flags = Contamination.nearDupFlags(
          corpus, "doc_id", "text", bench, "bench_id", "text",
          minJaccard = 0.8)
        .as[(Long, Long, Double)].collect().toList
      assert(flags.map(_._1) == List(1L), s"got $flags")
      assert(flags.head._2 == 1L)
      // exact Jaccard of the planted pair: 11 shared / 13 union
      assert(math.abs(flags.head._3 - 11.0 / 13.0) < 1e-12)
      // sub-threshold verify really cuts: at tau just above the
      // planted similarity nothing survives the exact check
      assert(Contamination.nearDupFlags(
        corpus, "doc_id", "text", bench, "bench_id", "text",
        minJaccard = 0.9).count() == 0L)
    }
  }

  describe("IrEval (nDCG / MRR / recall)") {
    it("matches hand-computed metrics: graded gains, ideal ordering, " +
       "first-relevant rank, unjudged-doc zero gain, and the " +
       "no-relevant-docs query scoring zero") {
      val run = Seq(
        (1L, 1L, 10L), (1L, 2L, 20L), (1L, 3L, 30L),   // q1: A,B,C
        (2L, 1L, 40L))                                  // q2: one doc
        .toDF("query_id", "rk", "doc_id")
      val qrels = Seq(
        (1L, 20L, 2), (1L, 99L, 1))  // B rel 2; D rel 1 (unretrieved)
        .toDF("query_id", "doc_id", "rel")
      val got = IrEval.evaluate(run, qrels, k = 3)
        .as[(Long, Double, Double, Double)].collect()
        .sortBy(_._1).toList
      def r9(x: Double) = BigDecimal(x)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP)
      def r6(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val dcg = r9(3.0 / (math.log(3.0) / math.log(2.0)))
      val idcg = r9(3.0 / (math.log(2.0) / math.log(2.0))) +
        r9(1.0 / (math.log(3.0) / math.log(2.0)))
      assert(got.head == (1L, r6((dcg / idcg).toDouble), 0.5, 0.5))
      // q2 has no relevant docs at all → zeros, not a dropped row
      assert(got(1) == (2L, 0.0, 0.0, 0.0))
    }
  }

  describe("IrEval.rbo (rank-biased overlap)") {
    it("identical full runs score exactly 1, a tail swap stays " +
       "close, a head swap costs more (top-weighting), disjoint " +
       "runs contribute nothing") {
      def run(docs: Seq[Long]) = docs.zipWithIndex
        .map { case (d, i) => (1L, (i + 1).toLong, d) }
        .toDF("query_id", "rk", "doc_id")
      val base = run(Seq(10L, 20L, 30L, 40L, 50L))
      def score(other: org.apache.spark.sql.DataFrame): Double =
        IrEval.rbo(base, other, k = 5)
          .as[(Long, Double)].collect().head._2
      assert(score(run(Seq(10L, 20L, 30L, 40L, 50L))) == 1.0)
      val tailSwap = score(run(Seq(10L, 20L, 30L, 50L, 40L)))
      val headSwap = score(run(Seq(20L, 10L, 30L, 40L, 50L)))
      assert(tailSwap < 1.0 && headSwap < 1.0)
      assert(headSwap < tailSwap,
        s"top-weighting violated: head $headSwap vs tail $tailSwap")
      assert(IrEval.rbo(base,
        run(Seq(91L, 92L, 93L, 94L, 95L)), k = 5).count() == 0L)
    }
  }

  describe("VideoSig (keyframe-set near-dup)") {
    it("finds the clipped copy (7 shared keyframes, Jaccard 7/8) " +
       "and ignores unrelated clips") {
      val full = (0 until 8).map(i => ("%02d".format(i)) * 16)
        .mkString                                  // 8 distinct frames
      val clipped = full.substring(0, 224)         // drops frame 8
      val other = (0 until 8).map(i => ("%02d".format(50 + i)) * 16)
        .mkString
      val docs = Seq((0L, full), (1L, clipped), (2L, other))
        .toDF("doc_id", "text")
      val pairs = VideoSig.nearDupPairs(
          VideoSig.frameHashes(docs, "doc_id", "text", 32, 8),
          minJaccard = 0.6)
        .as[(Long, Long, Long, Double)].collect().toList
      assert(pairs.map(p => (p._1, p._2, p._3)) == List((0L, 1L, 7L)))
      assert(math.abs(pairs.head._4 - 7.0 / 8.0) < 1e-6)
    }
  }

  describe("StatsStore (incremental corpus statistics)") {
    it("any sequence of add/retract waves equals a full recompute " +
       "over the survivors, and a fully-retracted key leaves the " +
       "store") {
      for (seed <- 1 to 2) {
        val rnd = new scala.util.Random(seed)
        val docs = (0L until 90L).map { id =>
          (id, s"l${rnd.nextInt(4)}",
            Seq.fill(1 + rnd.nextInt(8))(s"w${rnd.nextInt(20)}")
              .mkString(" "))
        }
        val df = docs.toDF("doc_id", "lang", "text")
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-statsstore").toString
        try {
          StatsStore.init(df.filter($"doc_id" < 30), "lang", "text", tmp)
          StatsStore.applyWave(
            df.filter($"doc_id" >= 30 && $"doc_id" < 60),
            "lang", "text", tmp)
          StatsStore.applyWave(df.filter($"doc_id" >= 60),
            "lang", "text", tmp)
          StatsStore.applyWave(df.filter($"doc_id" % 4 === 0),
            "lang", "text", tmp, retract = true)
          val got = StatsStore.read(spark, tmp)
            .as[(String, Long, Long, Long)].collect().toSet
          val survivors = df.filter($"doc_id" % 4 =!= 0)
          val want = survivors.groupBy($"lang".as("key")).agg(
              count(lit(1)).cast("long"),
              sum(size(split($"text", " "))).cast("long"),
              sum(length(regexp_replace($"text", " ", "")))
                .cast("long"))
            .as[(String, Long, Long, Long)].collect().toSet
          assert(got == want && got.nonEmpty, s"seed $seed diverged")
          // out-of-order: the SAME retraction applied before most of
          // its adds must land on the same final state (commutative
          // group — intermediates may hold negative counters)
          val tmp2 = java.nio.file.Files
            .createTempDirectory("graft-statsstore2").toString
          try {
            StatsStore.init(df.filter($"doc_id" < 30), "lang", "text",
              tmp2)
            StatsStore.applyWave(df.filter($"doc_id" % 4 === 0),
              "lang", "text", tmp2, retract = true)
            StatsStore.applyWave(
              df.filter($"doc_id" >= 30 && $"doc_id" < 60),
              "lang", "text", tmp2)
            StatsStore.applyWave(df.filter($"doc_id" >= 60),
              "lang", "text", tmp2)
            val ooo = StatsStore.read(spark, tmp2)
              .as[(String, Long, Long, Long)].collect().toSet
            assert(ooo == want, s"seed $seed out-of-order diverged")
          } finally graft.queries.Rm.rf(tmp2)
          // a TAGGED delta replayed (failure → micro-batch rerun) is
          // a no-op: the marker commits atomically with the swap
          val delta = df.filter($"doc_id" < 5)
            .withColumn("op", lit(1))
          StatsStore.applyDelta(delta, "lang", "text", "op", tmp,
            Some("replay_probe"))
          val once = StatsStore.read(spark, tmp)
            .as[(String, Long, Long, Long)].collect().toSet
          StatsStore.applyDelta(delta, "lang", "text", "op", tmp,
            Some("replay_probe"))
          assert(StatsStore.read(spark, tmp)
            .as[(String, Long, Long, Long)].collect().toSet == once,
            s"seed $seed: tagged replay double-applied")
          // undo the probe delta so the lang-retraction check below
          // still sees exactly the survivors
          StatsStore.applyWave(df.filter($"doc_id" < 5),
            "lang", "text", tmp, retract = true)
          // retract EVERYTHING that remains of one lang → key gone
          val l0 = survivors.filter($"lang" === "l0")
          StatsStore.applyWave(l0, "lang", "text", tmp, retract = true)
          val after = StatsStore.read(spark, tmp)
            .as[(String, Long, Long, Long)].collect()
          assert(!after.exists(_._1 == "l0"))
          assert(after.toSet ==
            want.filterNot(_._1 == "l0"), s"seed $seed post-retract")
        } finally graft.queries.Rm.rf(tmp)
      }
    }
  }

  describe("Multimodal") {
    it("renders real PNGs and ImageIO-decodes actual dims + pixel sum") {
      val out = Multimodal.decode(
        Multimodal.withPngPayload(docs, "doc_id", "text"))
        .collect().map(d => d.doc_id -> d).toMap
      val text0 = "the quick brown fox jumps over the lazy dog"
      val n = text0.getBytes("UTF-8").length
      assert(out(0L).width == 24 + n % 53)
      assert(out(0L).height == 16 + n % 43)
      assert(out(0L).n_pixels == out(0L).width * out(0L).height)
      // constant fill red = 13·id mod 256: doc 0 → 0, doc 1 → 13 —
      // only a genuine encode→decode round-trip reproduces these
      assert(out(0L).sum_red == 0L)
      assert(out(1L).sum_red == out(1L).n_pixels * 13L)
    }
    it("resize runs the real pixel op and floors the target geometry") {
      val r = graft.operators.MultimodalResize.resize(
        Multimodal.withPngPayload(docs, "doc_id", "text"), maxDim = 16)
        .collect().map(d => d.doc_id -> d).toMap
      val d0 = r(0L)
      val m = math.max(d0.width, d0.height)
      assert(d0.out_w == d0.width * 16 / m)
      assert(d0.out_h == d0.height * 16 / m)
      assert(d0.out_bytes == d0.out_w * d0.out_h * 3)
      // never upscale: a payload already inside the box keeps its dims
      val big = graft.operators.MultimodalResize.resize(
        Multimodal.withPngPayload(docs, "doc_id", "text"), maxDim = 4096)
        .collect().head
      assert(big.out_w == big.width && big.out_h == big.height)
    }
    it("WavCodec: a genuine AudioSystem decode recovers exactly the " +
       "synthesized samples; a truncated container fails loudly") {
      import spark.implicits._
      val ids = Seq(0L, 1L, 63L, 70L).toDF("doc_id")
      val out = WavCodec.decodeFingerprint(
          WavCodec.withWavPayload(ids, "doc_id"))
        .collect().map(d => d.doc_id -> d).toMap
      for (id <- Seq(0L, 1L, 63L, 70L)) {
        val n = (280 + (id % 64) * 4).toInt
        val s = Array.tabulate(n)(k =>
          ((id * 37 + k * (1 + id % 7)) % 256).toInt)
        val d = out(id)
        assert(d.n_samples == n && d.sample_rate == 8000L)
        assert(d.sum_samples == s.map(_.toLong).sum)
        assert(d.energy == s.map(v => v.toLong * v).sum)
      }
      // tamper: chop the data chunk — the codec must notice, not
      // silently fingerprint garbage
      val whole = WavCodec.withWavPayload(ids, "doc_id").collect()
        .find(_.doc_id == 0L).get.payload
      val torn = Seq(Blob(0L, whole.take(whole.length - 40))).toDS()
      val err = intercept[org.apache.spark.SparkException] {
        WavCodec.decodeFingerprint(torn).collect()
      }
      assert(err.getMessage != null)
    }
  }

  describe("Multimodal.sampleFrames") {
    it("emits k evenly-spaced frames, none for short blobs") {
      val varied = (0 until 100).map(i => ('a' + i % 26).toChar).mkString
      val blobs = Seq((0L, varied), (1L, "short")).toDF("doc_id", "text")
      val frames = Multimodal.sampleFrames(
        Multimodal.withPayload(blobs, "doc_id", "text"), k = 3, frameLen = 64)
        .collect()
      // doc 0: n=100, stride=max(1,(100-64)/2)=18 → offsets 0,18,36
      assert(frames.map(f => (f.doc_id, f.offset)).toSeq ==
        Seq((0L, 0L), (0L, 18L), (0L, 36L)))
      assert(frames.map(_.frame_md5).distinct.length == 3)
      // doc 1 (5 bytes < 64) contributes nothing
      assert(!frames.exists(_.doc_id == 1L))
    }
  }

  describe("AsOf.join") {
    it("attaches the latest right row at-or-before each left time, " +
       "max value on time ties, null when none") {
      val left = Seq(
        (1L, "k1", 100L), (2L, "k1", 250L), (3L, "k1", 50L), (4L, "k2", 500L))
        .toDF("event_id", "key", "t")
      val right = Seq(
        ("k1", 100L, 10L), ("k1", 100L, 11L),  // tie at t=100 → max v=11
        ("k1", 200L, 20L), ("k9", 1L, 99L))
        .toDF("key", "t", "v")
      val out = AsOf.join(left, right, "key", "key", "t", "t", "v")
        .select("event_id", "asof_v")
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      assert(out == Map(
        1L -> Some(11L),   // same-instant right row visible, tie → 11
        2L -> Some(20L),   // most recent earlier row
        3L -> None,        // nothing at-or-before t=50
        4L -> None))       // no right rows for k2
    }
    it("attaches a null VALUE when the most recent right row carries null") {
      val left = Seq((1L, "k", 250L)).toDF("event_id", "key", "t")
      val right = Seq(("k", 100L, Some(10L)), ("k", 200L, None))
        .toDF("key", "t", "v")
      val r = AsOf.join(left, right, "key", "key", "t", "t", "v").collect()(0)
      // The t=200 row IS the as-of match; its null value must win over
      // the older non-null t=100 value.
      assert(r.isNullAt(r.fieldIndex("asof_v")))
    }
  }

  describe("Dedup.exactKeepMin") {
    it("keeps the row with the smallest order value per key") {
      val kept = Dedup.exactKeepMin(docs, $"text", $"doc_id")
        .select("doc_id").as[Long].collect().toSet
      assert(kept == Set(0L, 2L, 3L))  // doc 1 (dup of 0) dropped, 0 kept
    }
  }

  describe("Params (per-record parameter evaluation, reference op #12)") {
    it("resolves ${attr} placeholders against an attribute map") {
      val attrs = Map("destination.schema" -> "example", "table" -> "t1")
      assert(graft.catalog.Params.resolve(
        "/warehouse/${destination.schema}/${table}", attrs) == "/warehouse/example/t1")
      assert(graft.catalog.Params.resolve("${missing}", Map()) == "")
      assertThrows[IllegalArgumentException](
        graft.catalog.Params.requireNonEmpty("Table Name", ""))
    }
  }

  describe("sinks (json/csv/orc round-trip)") {
    it("writes and re-reads json, csv and orc sinks faithfully") {
      val dir = java.nio.file.Files.createTempDirectory("graft-sinks").toString
      val df = Seq((1L, "a,b", 1.5), (2L, "c", 2.5)).toDF("id", "s", "v")
      df.write.mode("overwrite").json(s"$dir/j")
      df.write.mode("overwrite").option("header", "true").csv(s"$dir/c")
      df.write.mode("overwrite").orc(s"$dir/o")
      val j = spark.read.json(s"$dir/j")
      val c = spark.read.option("header", "true")
        .schema("id LONG, s STRING, v DOUBLE").csv(s"$dir/c")
      val o = spark.read.orc(s"$dir/o")
      assert(j.count() == 2 && c.count() == 2 && o.count() == 2)
      assert(c.filter($"id" === 1).select("s").as[String].head() == "a,b")
      assert(o.filter($"id" === 2).select("v").as[Double].head() == 2.5)
    }
  }

  describe("native expressions are foldable over literals") {
    it("constant-folds json_is_valid of a literal at plan time") {
      graft.GraftExtensions.install(spark)
      val plan = spark.sql("SELECT json_is_valid('{\"a\":1}') AS v")
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("[true AS v"), s"expected folded literal in: $plan")
    }
  }

  describe("GraftExtensions") {
    it("installs the native functions for SQL use") {
      graft.GraftExtensions.install(spark)
      val r = spark.sql(
        """SELECT json_is_valid('{"a":1}') AS v, json_is_object('[1]') AS o,
          |       size(minhash_sigs('a b c d e', 4)) AS m,
          |       size(minhash_sigs('a b c d e')) AS m_default,
          |       vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d
          |""".stripMargin).collect()(0)
      assert(r.getBoolean(0) && !r.getBoolean(1))
      assert(r.getInt(2) == 4 && r.getInt(3) == 4)
      assert(r.getDouble(4) == 11.0)
    }
    it("rejects a wrong argument count for every unary function") {
      graft.GraftExtensions.install(spark)
      val e = intercept[Exception](
        spark.sql("SELECT json_is_object('{}', 'x')").collect())
      assert(e.getMessage.contains("json_is_object requires exactly 1 arguments, got 2"))
      val e2 = intercept[Exception](spark.sql("SELECT nfc_normalize()").collect())
      assert(e2.getMessage.contains("nfc_normalize requires exactly 1 arguments, got 0"))
    }
    it("rejects out-of-range perms at analysis time") {
      graft.GraftExtensions.install(spark)
      val e = intercept[Exception](
        spark.sql("SELECT minhash_sigs('a b c d', 9)").collect())
      assert(e.getMessage.contains("perms must be in [1, 4]"))
      val e2 = intercept[Exception](
        spark.sql("SELECT minhash_sigs('a b c d', 0)").collect())
      assert(e2.getMessage.contains("perms must be in [1, 4]"))
    }
    it("explode_shingles generates one row per shingle (SQL + Column API)") {
      graft.GraftExtensions.install(spark)
      val sql = spark.sql("SELECT explode_shingles('a b c d') AS s")
        .as[String].collect().toSeq
      assert(sql == Seq("a b c", "b c d"))
      val api = Seq("a b c d e").toDF("text")
        .select(graft.functions.ExplodeShingles($"text", 2).as("s"))
        .as[String].collect().toSeq
      assert(api == Seq("a b", "b c", "c d", "d e"))
      assert(Seq("a b").toDF("t")
        .select(graft.functions.ExplodeShingles($"t", 3).as("s")).count() == 0)
    }
  }

  describe("whole-stage codegen coverage of native expressions") {
    // AQE off so executedPlan shows final codegen placement directly;
    // codegen.fallback=false turns a Janino compile error into a test
    // failure instead of a silent interpreted fallback.
    it("keeps Generate(explode_shingles) inside a WholeStageCodegen span") {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.codegen.fallback", "false")
      try {
        val df = docs
          .select(graft.functions.ExplodeShingles($"text", 3).as("sh"))
          .groupBy("sh").count()
        assert(df.count() > 0)
        val lines = df.queryExecution.executedPlan.toString.linesIterator
        val gen = lines.find(_.contains("Generate")).get
        assert(gen.trim.matches("""[+\-:\s]*\*\(\d+\).*"""),
          s"Generate not codegen'd (no star marker): $gen")
      } finally {
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
    it("compiles minhash_sigs inside codegen (no fallback)") {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.codegen.fallback", "false")
      try {
        // spark.range (not a LocalRelation, which the optimizer would
        // fold eagerly on the interpreted path) so a real codegen'd
        // Project carries the expression.
        val df = spark.range(4)
          .select(concat(lit("a b c d "), $"id".cast("string")).as("text"))
          .select(graft.functions.MinHashSigs($"text", 4).as("m"))
        assert(df.collect().length == 4)
        val proj = df.queryExecution.executedPlan.toString.linesIterator
          .find(_.contains("Project"))
        assert(proj.exists(_.contains("*")),
          s"minhash_sigs projection not codegen'd: ${proj}")
      } finally {
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }

  describe("Skew.saltedJoin") {
    it("returns exactly the plain join result under a hot key") {
      val fact = Seq.tabulate(300)(i =>
        (if (i < 250) 1L else i.toLong % 10, s"e$i")).toDF("k", "ev") // 1 is hot
      val dim = (0L to 10L).map(k => (k, s"d$k")).toDF("k", "attr")
      val salted = Skew.saltedJoin(fact, dim, "k", salts = 4)
        .select("k", "ev", "attr").as[(Long, String, String)].collect().toSet
      val plain = fact.join(dim, "k")
        .select("k", "ev", "attr").as[(Long, String, String)].collect().toSet
      assert(salted == plain && plain.size == 300)
    }
  }

  describe("RankOps (distributed global ranking)") {
    it("globalRowNumber assigns 1..N in sort order across partitions") {
      val df = spark.range(0, 1000)
        .select((col("id") * 7919 % 1000).as("k"))   // shuffled distinct keys
        .repartition(8)
      val got = RankOps.globalRowNumber(df, Seq(col("k")), "rn",
          numPartitions = 5)
        .select("k", "rn").as[(Long, Long)].collect().sortBy(_._1)
      assert(got.map(_._2).toSeq == (1L to 1000L))   // rank == k+1 order
      assert(got.zipWithIndex.forall { case ((k, rn), i) => k == i && rn == i + 1 })
    }
    it("globalNtile matches SQL NTILE semantics (larger buckets first)") {
      val df = spark.range(0, 103).select(col("id").as("k")).repartition(7)
      val got = RankOps.globalNtile(df, Seq(col("k")), 4, "q",
          numPartitions = 3)
        .select("k", "q").as[(Long, Long)].collect().sortBy(_._1)
      // 103 rows / 4 buckets: sizes 26, 26, 26, 25
      val expected = Seq.fill(26)(1L) ++ Seq.fill(26)(2L) ++
        Seq.fill(26)(3L) ++ Seq.fill(25)(4L)
      assert(got.map(_._2).toSeq == expected)
    }
  }

  describe("Sampling") {
    it("mixtureSample keeps nothing at rate 0 and everything at 1000") {
      val df = Seq((1L, "a", "t1"), (2L, "a", "t2"), (3L, "b", "t3"))
        .toDF("doc_id", "source", "text")
      val kept = Sampling.mixtureSample(df, "source", "text",
        Seq("a" -> 1000, "b" -> 0))
        .select("doc_id").as[Long].collect().sorted
      assert(kept.toSeq == Seq(1L, 2L))
      // unlisted groups are dropped
      val none = Sampling.mixtureSample(df, "source", "text", Seq("z" -> 1000))
      assert(none.count() == 0)
    }
    it("packSequences assigns seq ids by start offset within buckets") {
      val df = Seq((0L, 10L), (1L, 2040L), (2L, 5L), (3L, 2050L), (100L, 7L))
        .toDF("doc_id", "nt")
      val got = Sampling
        .packSequences(df, "doc_id", col("nt"), budget = 2048, bucketSize = 100)
        .select("doc_id", "bucket", "start_tok", "seq_id")
        .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
      // starts: 0, 10, 2050, 2055 -> seqs 0, 0, 1, 1; doc 100 starts a
      // fresh bucket at offset 0
      assert(got.toSeq == Seq(
        (0L, 0L, 0L, 0L), (1L, 0L, 10L, 0L),
        (2L, 0L, 2050L, 1L), (3L, 0L, 2055L, 1L),
        (100L, 1L, 0L, 0L)))
    }
  }

  describe("TextClean.boilerplateStats") {
    it("flags segments repeated across documents, not within one") {
      val df = Seq(
        (1L, "a b c d e f g h i j k l m n o p"),   // segs: [a..h], [i..p]
        (2L, "a b c d e f g h z z z z z z z z"),   // shares [a..h]
        (3L, "q r s t u v w x q r s t u v w x"),   // same seg twice, ONE doc
        (4L, "short text"))                        // < 8 tokens: no segs
        .toDF("doc_id", "text")
      val got = TextClean.boilerplateStats(df, "doc_id", "text")
        .as[(Long, Long, Long)].collect().sortBy(_._1)
      // doc 3's repeated segment has df=1 (distinct docs) -> not boiler
      assert(got.toSeq == Seq((1L, 2L, 1L), (2L, 2L, 1L), (3L, 2L, 0L)))
    }
  }

  describe("Classifier (logistic quality gate)") {
    it("features are [bias, length saturation, stopword ratio, len/10]") {
      val f = Seq(("the fox runs", 0))
        .toDF("text", "ignore")
        .select(Classifier.features($"text").as("f"))
        .as[Seq[Double]].head()
      // 3 tokens, 1 stopword ("the"), 10 chars of tokens (3+3+4)
      assert(f == Seq(1.0, 3.0 / 50.0, 1.0 / 3.0, (10.0 / 3.0) / 10.0))
    }
    it("score is monotone in the weights' direction") {
      val w = Seq(0.0, 5.0, 0.0, 0.0) // reward length only
      val short = Seq(("one two", 0)).toDF("text", "i")
        .select(Classifier.score(w, $"text")).as[Double].head()
      val long = Seq(((1 to 40).map(_ => "word").mkString(" "), 0))
        .toDF("text", "i")
        .select(Classifier.score(w, $"text")).as[Double].head()
      assert(long > short && short > 0.5) // both positive-weight scores
    }
    it("gradient descent separates a linearly separable corpus") {
      // long docs labeled 1, short docs labeled 0 — feature f1 separates
      val corpus = ((0 until 20).map(i =>
        ((1 to 45 + i % 5).map(_ => "data").mkString(" "), 1.0)) ++
        (0 until 20).map(i =>
          ((1 to 3 + i % 3).map(_ => "data").mkString(" "), 0.0)))
        .toDF("text", "y")
      val w = Classifier.train(corpus, "text", $"y",
        init = Seq(0.0, 0.0, 0.0, 0.0), lr = 2.0, iters = 30)
      val acc = corpus
        .select($"y", (Classifier.score(w, $"text") >= 0.5).cast("double").as("p"))
        .filter($"y" === $"p").count()
      assert(acc == 40L, s"weights $w misclassified ${40 - acc} docs")
    }
  }

  describe("Tfidf.topTerms") {
    it("ranks corpus-rare terms above ubiquitous ones") {
      val corpus = Seq(
        (0L, "apple apple banana common"),
        (1L, "banana cherry common common"),
        (2L, "durian common")).toDF("doc_id", "text")
      val top = Tfidf.topTerms(corpus, "doc_id", "text", nDocs = 3, k = 2)
        .as[(Long, Long, String, Long, Long, Double)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
      // "common" appears in every doc => idf = ln(1) = 0, never top
      assert(top(0L) == Seq("apple", "banana"))  // tf=2 rare beats tf=1
      assert(top(1L) == Seq("cherry", "banana")) // df=1 beats df=2
      assert(top(2L) == Seq("durian", "common"))
    }
  }

  describe("Quantize (product quantization)") {
    // 4-dim vectors, m=2 subquantizers of d=2, codebook = first 2 vectors
    def vecs = Seq(
      (0L, Seq(0f, 0f, 10f, 10f)),
      (1L, Seq(5f, 5f, 0f, 0f)),
      (2L, Seq(0.4f, 0.1f, 0.2f, 0.3f)),  // near cb0 sub0, near cb1 sub1
      (3L, Seq(4.8f, 5.1f, 9.7f, 10.2f))) // near cb1 sub0, near cb0 sub1
      .toDF("vec_id", "embedding")
    def cb = Quantize.codebookFromFirst(vecs, "vec_id", "embedding", 2, 2)

    it("collects the codebook as exact double subvectors") {
      assert(cb == Seq(
        Seq(Seq(0.0, 0.0), Seq(5.0, 5.0)),
        Seq(Seq(10.0, 10.0), Seq(0.0, 0.0))))
    }
    it("encodes each subvector to its nearest centroid (ties to lowest)") {
      val codes = vecs.select($"vec_id",
        Quantize.encode($"embedding", cb).as("c"))
        .as[(Long, Seq[Int])].collect().toMap
      assert(codes(0L) == Seq(0, 0) && codes(1L) == Seq(1, 1))
      assert(codes(2L) == Seq(0, 1) && codes(3L) == Seq(1, 0))
    }
    it("native pq_encode matches the declarative encode exactly") {
      // 64-dim vectors (the real embedding shape), seeded random floats
      val rnd = new scala.util.Random(7)
      val sample = (0L until 40L).map(i =>
        (i, Seq.fill(64)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
      val cb8 = Quantize.codebookFromFirst(sample, "vec_id", "embedding", 8, 16)
      val both = sample.select(
        Quantize.encode($"embedding", cb8).as("a"),
        Quantize.encodeFast($"embedding", cb8).as("b"))
        .as[(Seq[Int], Seq[Int])].collect()
      assert(both.forall { case (a, b) => a == b })
    }
    it("native pq_encode returns null for short vectors") {
      val short = Seq((0L, Seq(1f, 2f))).toDF("vec_id", "embedding")
      val r = short.select(Quantize.encodeFast($"embedding", cb)).collect()
      assert(r.head.isNullAt(0))
    }
    it("native pq_encode mirrors declarative NULL propagation per slot") {
      val withNull = spark.sql(
        """SELECT array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT),
          |             CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)) AS embedding
          |""".stripMargin)
      val row = withNull.select(
        Quantize.encode($"embedding", cb).as("a"),
        Quantize.encodeFast($"embedding", cb).as("b")).head()
      // slot 0 touches the NULL dim -> NULL code; slot 1 = (3,4) is
      // nearer centroid (0,0) (index 1) than (10,10)
      assert(row.getSeq[Any](0) == Seq(null, 1))
      assert(row.getSeq[Any](0) == row.getSeq[Any](1))
    }
    it("k-means training moves centroids to the per-slot cluster means") {
      // Two tight blobs per slot; first 2 vectors (the init) sit inside
      // one blob each, so 2 iterations converge to the blob means.
      val blobA = Seq(0.0f, 0.0f)   // slot-0 blob around (0,0)
      val blobB = Seq(10f, 10f)     // slot-0 blob around (10,10)
      val data = (0 until 20).map { i =>
        val jitter = (i % 5) * 0.1f
        val s0 = if (i % 2 == 0) blobA.map(_ + jitter) else blobB.map(_ + jitter)
        val s1 = if (i % 2 == 0) blobB.map(_ - jitter) else blobA.map(_ - jitter)
        (i.toLong, s0 ++ s1)
      }.toDF("vec_id", "embedding")
      val trained = Quantize.trainCodebook(data, "vec_id", "embedding",
        m = 2, k = 2, iters = 3)
      // per blob: mean jitter = (0+.1+.2+.3+.4)/5 = 0.2
      def close(a: Seq[Double], b: Seq[Double]) =
        a.zip(b).forall { case (x, y) => math.abs(x - y) < 1e-6 }
      assert(close(trained(0)(0), Seq(0.2, 0.2)))
      assert(close(trained(0)(1), Seq(10.2, 10.2)))
      assert(close(trained(1)(0), Seq(9.8, 9.8)))
      assert(close(trained(1)(1), Seq(-0.2, -0.2)))
    }
    it("whole-vector (m=1) training is invariant under repartitioning") {
      // d64's claim: the exact scaled-integer M-step makes the trained
      // centroids identical whatever the input partitioning is.
      val data = (0 until 40).map { i =>
        (i.toLong, Seq(i % 7 * 0.5f, i % 5 * 1.5f, i % 3 * -0.25f, 1.0f))
      }.toDF("vec_id", "embedding")
      val one = Quantize.trainCodebook(data.repartition(1),
        "vec_id", "embedding", m = 1, k = 4, iters = 2)
      val many = Quantize.trainCodebook(data.repartition(11),
        "vec_id", "embedding", m = 1, k = 4, iters = 2)
      assert(one == many)
    }
    it("ADC distance equals the exact distance to the reconstruction") {
      val q = Seq(1.0, 1.0, 8.0, 8.0)
      val adc = Quantize.adcTable(q, cb)
      val d = vecs.filter($"vec_id" === 3)
        .select(Quantize.adcDistance(
          Quantize.encode($"embedding", cb), adc))
        .as[Double].head()
      // vec 3 encodes to (cb0=[5,5], cb1=[10,10]); exact distance from q:
      val expected = (1.0 - 5.0) * (1.0 - 5.0) + (1.0 - 5.0) * (1.0 - 5.0) +
        (8.0 - 10.0) * (8.0 - 10.0) + (8.0 - 10.0) * (8.0 - 10.0)
      assert(d == expected)
    }
  }

  describe("Quality.audit (single-pass constraint checks)") {
    it("counts null, duplicate, out-of-range, and regex violations") {
      val df = Seq(
        (Some(1L), "A-ok", 10.0),
        (Some(1L), "B-bad", 20.0),   // dup id, regex violation
        (None, "A-ok", -5.0),        // null id, below range
        (Some(2L), "A-ok", 999.0))   // above range
        .toDF("id", "tag", "v")
      val row = Quality.audit(df, Seq(
        Quality.NotNull("id"),
        Quality.Unique("id"),
        Quality.InRange("v", 0.0, 100.0),
        Quality.Matches("tag", "^A-"))).head()
      assert(row.getLong(0) == 1L) // one null id
      assert(row.getLong(1) == 1L) // one duplicate among non-nulls
      assert(row.getLong(2) == 2L) // -5 and 999
      assert(row.getLong(3) == 1L) // "B-bad"
    }
  }

  describe("TextClean.chunks (strided RAG windows)") {
    it("overlaps by k-stride and truncates the final chunk") {
      val df = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" ")))
        .toDF("doc_id", "text")
      val got = df.select(TextClean.chunks(TextAnalysis.tokens($"text"), 4, 3))
        .as[Seq[String]].head()
      assert(got == Seq(
        "t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10", "t10"))
    }
    it("yields no chunks for an empty token array") {
      val got = spark.sql("SELECT CAST(array() AS ARRAY<STRING>) AS toks")
        .select(TextClean.chunks($"toks", 4, 3))
        .as[Seq[String]].head()
      assert(got == Seq.empty)
    }
  }

  describe("Dedup.connectedComponents") {
    it("labels a chain and separate components correctly") {
      // chain 7-5-3-1 (forces multiple propagation rounds: min label 1
      // must travel 3 hops) + pair (10,11) + reversed-order edge (20,19)
      val edges = Seq((7L, 5L), (5L, 3L), (3L, 1L), (10L, 11L), (20L, 19L))
        .toDF("d1", "d2")
      val got = Dedup.connectedComponents(edges)
        .as[(Long, Long)].collect().toMap
      assert(got == Map(1L -> 1L, 3L -> 1L, 5L -> 1L, 7L -> 1L,
        10L -> 10L, 11L -> 10L, 19L -> 19L, 20L -> 19L))
    }
    it("returns each node once and is idempotent under symmetric input") {
      val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L)).toDF("a", "b")
      val got = Dedup.connectedComponents(edges).as[(Long, Long)].collect()
      assert(got.map(_._1).sorted.toSeq == Seq(1L, 2L, 3L))
      assert(got.forall(_._2 == 1L))
    }
    it("keeps self-loop-only nodes as their own representative") {
      val edges = Seq((5L, 5L), (1L, 2L), (2L, 2L)).toDF("a", "b")
      val got = Dedup.connectedComponents(edges).as[(Long, Long)].collect().toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 5L -> 5L))
    }
    it("resolves a 64-node chain within the default iteration bound") {
      // worst-case diameter for plain propagation; large/small-star
      // contracts it in O(log^2 n) rounds
      val edges = (0L until 63L).map(i => (i, i + 1)).toDF("a", "b")
      val got = Dedup.connectedComponents(edges).as[(Long, Long)].collect()
      assert(got.length == 64 && got.forall(_._2 == 0L))
      assert(Dedup.lastCCIterations.get() <= 10)
    }
  }

  describe("AnnIndex persisted serve path") {
    it("serves the same ranking as the in-run IVF+PQ arms and prunes partitions") {
      val rnd = new scala.util.Random(5)
      val emb = (0L until 64L).map(i =>
        (i, Array.fill(16)(rnd.nextFloat()), i % 4))
        .toDF("vec_id", "embedding", "label")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-annidx-spec").toString
      try {
        AnnIndex.write(emb, "vec_id", "embedding", "label",
          m = 4, k = 8, dir = tmp)
        val qv = emb.filter($"vec_id" === 0)
          .select($"embedding").as[Array[Float]].head()
          .map(_.toDouble).toSeq
        val served = AnnIndex.search(spark, tmp, qv,
          nProbe = 2, topK = 5, excludeId = 0L)
        // reference: same codebook + ADC math, computed in-run
        val cb = Quantize.codebookFromFirst(emb, "vec_id", "embedding", 4, 8)
        val adc = Quantize.adcTable(qv, cb)
        val cents = emb.select($"label".cast("long").as("label"),
            Similarity.asDouble($"embedding").as("v"))
          .select($"label", posexplode(
            transform($"v", x => round(x * 1e6).cast("long")))
            .as(Seq("i", "x")))
          .groupBy("label", "i")
          .agg(sum("x").as("sx"), count(lit(1)).as("n"))
          .groupBy("label")
          .agg(transform(
            array_sort(collect_list(struct($"i", $"sx", $"n"))),
            t3 => t3.getField("sx").cast("double") /
              (t3.getField("n").cast("double") * lit(1e6))).as("cv"))
        val top = cents
          .select($"label", Similarity.cosine($"cv", typedlit(qv)).as("cs"))
          .orderBy($"cs".desc, $"label".asc).limit(2).select("label")
        val expected = emb
          .select($"vec_id", $"label".cast("long").as("label"),
            Quantize.encodeFast($"embedding", cb).as("codes"))
          .join(broadcast(top), "label")
          .filter($"vec_id" =!= 0)
          .select($"vec_id", $"label",
            round(Quantize.adcDistance($"codes", adc), 6).as("adist"))
          .orderBy($"adist".asc, $"vec_id".asc).limit(5)
          .as[(Long, Long, Double)].collect().toSeq
        assert(served.as[(Long, Long, Double)].collect().toSeq == expected)
        // the postings scan must prune at the PARTITION level (the
        // on-disk cell cut the operator's scaladoc claims): the probed
        // cells appear in PartitionFilters, not just as a data filter
        val plan = served.queryExecution.executedPlan.toString
        val pf = "(?i)partitionfilters: \\[[^\\]]*label[^\\]]* IN \\("
          .r.findFirstIn(plan)
        assert(pf.isDefined,
          s"expected a label IN (...) partition filter in the serve plan:\n$plan")
      } finally {
        graft.queries.Rm.rf(tmp)
      }
    }
    it("append-ed vectors serve identically to a full rebuild") {
      val rnd = new scala.util.Random(9)
      val all = (0L until 80L).map(i =>
        (i, Array.fill(16)(rnd.nextFloat()), i % 4))
      val first = all.filter(_._1 < 60L).toDF("vec_id", "embedding", "label")
      val rest = all.filter(_._1 >= 60L).toDF("vec_id", "embedding", "label")
      val whole = all.toDF("vec_id", "embedding", "label")
      val tmpInc = java.nio.file.Files
        .createTempDirectory("graft-annidx-inc").toString
      val tmpFull = java.nio.file.Files
        .createTempDirectory("graft-annidx-full").toString
      try {
        // incremental: build on the first 60 (codebook = first 8 vecs,
        // shared by both paths), append the remaining 20
        AnnIndex.write(first, "vec_id", "embedding", "label",
          m = 4, k = 8, dir = tmpInc)
        AnnIndex.append(rest, "vec_id", "embedding", "label", tmpInc)
        AnnIndex.write(whole, "vec_id", "embedding", "label",
          m = 4, k = 8, dir = tmpFull)
        val qv = whole.filter($"vec_id" === 0)
          .select($"embedding").as[Array[Float]].head()
          .map(_.toDouble).toSeq
        def serve(d: String) =
          AnnIndex.search(spark, d, qv, nProbe = 2, topK = 8,
            excludeId = 0L).as[(Long, Long, Double)].collect().toSeq
        // centroids differ (incremental keeps cell geometry from the
        // first build — by design), so compare the served rankings on
        // the SAME probed cells: with labels 0..3 and uniform data the
        // probe picks the same 2 cells here (asserted via result equality)
        assert(serve(tmpInc) == serve(tmpFull))
      } finally {
        graft.queries.Rm.rf(tmpInc)
        graft.queries.Rm.rf(tmpFull)
      }
    }
    it("compact is selective and preserves served results") {
      import org.apache.hadoop.fs.Path
      val rnd = new scala.util.Random(13)
      val all = (0L until 80L).map(i =>
        (i, Array.fill(16)(rnd.nextFloat()), i % 4))
      // one input partition → the initial write lands exactly one file
      // per cell, so fragmentation afterwards comes ONLY from appends
      val first = all.filter(_._1 < 60L)
        .toDF("vec_id", "embedding", "label").repartition(1)
      // two append waves, both touching ONLY cell 0 — cells 1..3 stay
      // exactly as the initial write left them
      val Seq(w1, w2) = Seq(
        all.filter(t3 => t3._1 >= 60L && t3._1 < 70L && t3._3 == 0L),
        all.filter(t3 => t3._1 >= 70L && t3._3 == 0L))
        .map(_.toDF("vec_id", "embedding", "label"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-annidx-compact").toString
      val fs = new Path(tmp).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      def cellFiles(label: Long): Set[String] =
        fs.listStatus(new Path(s"$tmp/postings/label=$label"))
          .map(_.getPath.getName).filter(_.startsWith("part-")).toSet
      try {
        AnnIndex.write(first, "vec_id", "embedding", "label",
          m = 4, k = 8, dir = tmp)
        AnnIndex.append(w1, "vec_id", "embedding", "label", tmp)
        AnnIndex.append(w2, "vec_id", "embedding", "label", tmp)
        assert(cellFiles(0L).size >= 3) // initial + one per append wave
        val untouchedBefore = (1L to 3L).map(cellFiles)
        val qv = first.filter($"vec_id" === 0)
          .select($"embedding").as[Array[Float]].head()
          .map(_.toDouble).toSeq
        def serve() = AnnIndex.search(spark, tmp, qv, nProbe = 2,
          topK = 8, excludeId = 0L).as[(Long, Long, Double)].collect().toSeq
        val before = serve()
        val compacted = AnnIndex.compact(spark, tmp)
        // only the fragmented cell is rewritten; the others keep their
        // exact file set (names carry task UUIDs — any rewrite would
        // change them)
        assert(compacted == Seq(0L))
        assert(cellFiles(0L).size == 1)
        assert((1L to 3L).map(cellFiles) == untouchedBefore)
        assert(serve() == before)
        // idempotent: nothing left to compact
        assert(AnnIndex.compact(spark, tmp).isEmpty)
      } finally {
        graft.queries.Rm.rf(tmp)
      }
    }
  }

  describe("SSJoin vs brute-force Jaccard reference") {
    // multi-seed, multi-threshold sweep (a bounded property test: full
    // ScalaCheck would spawn hundreds of Spark jobs) — both the prune
    // path and the keep path must survive every (seed, t) combination
    // for the length/positional filters to be lossless.
    for ((seed, t) <- Seq((11, 0.6), (23, 0.5), (37, 0.75), (41, 0.9)))
      it(s"matches brute force at t=$t (seed $seed)") {
        val vocab = (0 until 40).map(i => s"w$i")
        val rnd = new scala.util.Random(seed)
        // overlapping random token sets + planted near-dup pairs
        val base = (0L until 50L).map { i =>
          (i, rnd.shuffle(vocab).take(8 + rnd.nextInt(6)).toSet)
        }
        // high thresholds need tighter planted pairs: add-one-token is
        // J = n/(n+1) ≥ 0.89; drop-one-add-one is J = (n−1)/(n+1) ≤ 0.86
        val planted = base.take(10).map { case (i, ts) =>
          (i + 100L, (if (t > 0.8) ts else ts - ts.head) + s"x$i")
        }
        val all = base ++ planted
        val expected = (for {
          (a, ta) <- all; (b, tb) <- all if a < b
          ov = (ta & tb).size
          if ov > 0 && ov.toDouble / (ta ++ tb).size >= t
        } yield (a, b, ov.toLong)).toSet
        val got = SSJoin.join(
            all.map { case (i, ts) => (i, ts.mkString(" ")) }
              .toDF("doc_id", "text"),
            "doc_id", "text", t)
          .select("a", "b", "ov").as[(Long, Long, Long)].collect().toSet
        assert(expected.nonEmpty && got == expected)
      }
  }

  describe("Dedup.connectedComponents vs union-find reference") {
    // multi-seed/density sweep over random graphs: sparse (mostly small
    // components), medium, and dense (one giant component) regimes all
    // must converge to the canonical-min labels.
    for ((seed, nodes, nEdges) <- Seq((42, 80, 120), (7, 60, 40),
        (13, 50, 200), (99, 120, 90)))
      it(s"matches union-find on a random graph (seed $seed, " +
          s"$nodes nodes, $nEdges edges)") {
        val rnd = new scala.util.Random(seed)
        val edges = Seq.fill(nEdges)(
            (rnd.nextInt(nodes).toLong, rnd.nextInt(nodes).toLong))
          .filter { case (a, b) => a != b }
        // reference: union-find with min-label roots
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElse(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val ns = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val expected = ns.map(n => n -> find(n)).toMap
        val got = Dedup.connectedComponents(edges.toDF("d1", "d2"))
          .as[(Long, Long)].collect().toMap
        assert(got == expected)
      }
  }

  describe("TextAnalysis.charEntropy") {
    it("is 0 for constant text, ln(k) for uniform, exact for mixed") {
      val df = Seq((0L, "aaaaaaaa"), (1L, "abababab"), (2L, "aab"))
        .toDF("doc_id", "text")
      val got = TextAnalysis.charEntropy(df, "doc_id", "text")
        .as[(Long, Long, Double)].collect()
        .map { case (id, n, h) => id -> ((n, h)) }.toMap
      def r6(x: Double) =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got(0L) == ((8L, 0.0)))
      assert(got(1L)._1 == 8L && math.abs(got(1L)._2 - math.log(2)) < 1e-6)
      // H(2/3, 1/3) from the same rounded-term construction
      def term(p: Double) =
        BigDecimal(p * math.log(p)).setScale(8,
          BigDecimal.RoundingMode.HALF_UP)
      assert(got(2L) == ((3L,
        r6(-(term(2.0 / 3) + term(1.0 / 3)).toDouble))))
    }
  }

  describe("Similarity.randomProjection (JL, Achlioptas signs)") {
    def signRef(j: Int, i: Int): Double = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${j}_${i}".getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xF) % 2 == 0) 1.0 else -1.0
    }
    def vecs(n: Int, seed: Int): Seq[(Long, Array[Float])] = {
      val rnd = new scala.util.Random(seed)
      (0L until n.toLong).map(id =>
        (id, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    }

    it("matches a plain-Scala reference projection exactly") {
      val vs = vecs(20, seed = 11)
      val got = Similarity
        .randomProjection(vs.toDF("vec_id", "embedding"),
          "vec_id", "embedding")
        .as[(Long, Long, Double)].collect()
        .map { case (id, j, v) => (id, j) -> v }.toMap
      val want = (for ((id, v) <- vs; j <- 1 to 16) yield {
        val s = (1 to 64).map(i => v(i - 1).toDouble * signRef(j, i))
          .reduce(_ + _)
        (id, j.toLong) -> BigDecimal(0.25 * s)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }).toMap
      assert(got == want)
    }

    it("keeps pairwise distances within loose JL distortion bounds") {
      val vs = vecs(40, seed = 7)
      val proj = Similarity
        .randomProjection(vs.toDF("vec_id", "embedding"),
          "vec_id", "embedding")
        .as[(Long, Long, Double)].collect()
        .groupBy(_._1).view
        .mapValues(_.sortBy(_._2).map(_._3)).toMap
      def d2(a: Seq[Double], b: Seq[Double]) =
        a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
      val ratios = for (i <- 0L until 39L) yield {
        val (va, vb) = (vs(i.toInt)._2, vs(i.toInt + 1)._2)
        d2(proj(i).toSeq, proj(i + 1).toSeq) /
          d2(va.map(_.toDouble).toSeq, vb.map(_.toDouble).toSeq)
      }
      // k=16: concentration is loose but real — all ratios in [0.2, 2.2]
      // for this seeded set, and the mean is near 1
      assert(ratios.forall(r => r > 0.2 && r < 2.2))
      assert(math.abs(ratios.sum / ratios.size - 1.0) < 0.25)
    }
  }

  describe("Similarity.kCenters vs reference farthest-point greedy") {
    it("matches the Gonzalez greedy on seeded vectors") {
      val rnd = new scala.util.Random(13)
      val vs = (0L until 30L).map(id =>
        (id, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
      def d2(a: Array[Float], b: Array[Float]): Double =
        (0 until 64).map(i =>
          (a(i).toDouble - b(i).toDouble) *
            (a(i).toDouble - b(i).toDouble)).sum
      val chosen = scala.collection.mutable.ArrayBuffer((1, 0L, 0.0))
      val minD = scala.collection.mutable.Map(
        vs.map(v => v._1 -> d2(v._2, vs(0)._2)): _*)
      for (step <- 2 to 6) {
        val (id, d) = minD.toSeq.minBy { case (i, d) => (-d, i) }
        chosen += ((step, id, d))
        val c = vs(id.toInt)._2
        vs.foreach { case (i, v) =>
          minD(i) = math.min(minD(i), d2(v, c)) }
      }
      val got = Similarity
        .kCenters(vs.toDF("vec_id", "embedding"), "vec_id", "embedding",
          k = 6)
        .as[(Int, Long, Double)].collect().toSeq.sortBy(_._1)
      val want = chosen.toSeq.map { case (s, i, d) =>
        (s, i, BigDecimal(d).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble) }
      assert(got == want)
    }
  }

  describe("BpeTrain vs reference greedy BPE") {
    // plain-Scala reference: Sennrich's algorithm on word types
    def refBpe(texts: Seq[String], k: Int): Seq[(Int, String, Long)] = {
      var vocab = texts.flatMap(_.split(" ")).filter(_.nonEmpty)
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
        .map { case (w, c) => (w.toList.map(_.toString), c) }.toList
      (1 to k).flatMap { step =>
        val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
        vocab.foreach { case (syms, c) =>
          syms.zip(syms.drop(1)).foreach(p =>
            pairs(p) = pairs.getOrElse(p, 0L) + c) }
        if (pairs.isEmpty) None
        else {
          val ((a, b), n) = pairs.toSeq
            .minBy { case ((a, b), n) => (-n, a + " " + b) }
          vocab = vocab.map { case (syms, c) =>
            val out = scala.collection.mutable.ListBuffer.empty[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
                out += (a + b); i += 2
              } else { out += syms(i); i += 1 }
            }
            (out.toList, c)
          }
          Some((step, a + " " + b, n))
        }
      }
    }

    for ((name, texts, k) <- Seq(
        ("the classic low/lower corpus",
          Seq("low low low low low lower lower newest newest newest " +
            "newest newest newest widest widest widest"), 6),
        ("repeat-heavy ties", Seq("aaab aaab abab", "bbaa aaa aa"), 5)))
      it(s"matches on $name") {
        val got = BpeTrain.train(texts.toDF("text"), "text", k)
          .as[(Int, String, Long)].collect().toSeq.sortBy(_._1)
        assert(got == refBpe(texts, k))
      }

    it("trainBatched(batchSize=1) degenerates to the exact trainer " +
       "(one dominant pair per round, counts exact at every step)") {
      val texts = Seq("low low low low low lower lower newest newest " +
        "newest newest newest newest widest widest widest",
        "aaab aaab abab bbaa aaa aa")
      val exact = BpeTrain.train(texts.toDF("text"), "text", 7)
        .as[(Int, String, Long)].collect().toSeq.sortBy(_._1)
      val batched = BpeTrain
        .trainBatched(texts.toDF("text"), "text", nRounds = 7,
          batchSize = 1)
        .select(col("step").cast("int"), col("pair"), col("n"))
        .as[(Int, String, Long)].collect().toSeq.sortBy(_._1)
      assert(batched == exact && exact.size == 7)
    }

    it("a batch's admitted pairs are pairwise disjoint including " +
       "merge results, and application equals the sequential replay") {
      // words engineered so the top window has symbol conflicts:
      // 'e r' dominates, 'r t' conflicts on r, 'x y' is disjoint
      val texts = Seq(Seq.fill(9)("erq").mkString(" "),
        Seq.fill(7)("rty").mkString(" "),
        Seq.fill(8)("xyz").mkString(" "))
      val got = BpeTrain
        .trainBatched(texts.toDF("text"), "text", nRounds = 1,
          batchSize = 6)
        .as[(Long, Long, String, Long)].collect().toSeq.sortBy(_._1)
      // greedy over the rank order must admit a set whose symbol
      // triples {a, b, ab} are pairwise disjoint
      val trip = got.map { case (_, _, p, _) =>
        val Array(a, b) = p.split(" ", 2); Set(a, b, a + b) }
      for (i <- trip.indices; j <- 0 until i)
        assert((trip(i) & trip(j)).isEmpty,
          s"pairs ${got(i)._3} / ${got(j)._3} overlap")
      assert(got.nonEmpty && got.size > 1)
    }

    it("trainIncremental (maintained pair counts) is bit-identical " +
       "to trainBatched across randomized corpora — the FastBPE " +
       "delta update changes cost, never the merge table") {
      for (seed <- 1 to 3) {
        val rnd = new scala.util.Random(seed * 71)
        // random words over a small alphabet → dense pair collisions,
        // self-pairs, and rounds where only some words are touched
        val texts = Seq.fill(4)(
          Seq.fill(60)(Seq.fill(2 + rnd.nextInt(7))(
            ('a' + rnd.nextInt(5)).toChar).mkString).mkString(" "))
        val batched = BpeTrain
          .trainBatched(texts.toDF("text"), "text", nRounds = 6,
            batchSize = 16)
          .as[(Long, Long, String, Long)].collect().toSeq.sortBy(_._1)
        var touchedTotal = 0L
        val inc = BpeTrain
          .trainIncremental(texts.toDF("text"), "text", nRounds = 6,
            batchSize = 16, Some((_, t, _) => touchedTotal += t))
          .as[(Long, Long, String, Long)].collect().toSeq.sortBy(_._1)
        assert(inc == batched && batched.nonEmpty,
          s"seed $seed: incremental diverged")
        assert(touchedTotal > 0L)
      }
    }

    it("the shadow-floor/delta path is output-identical to " +
       "trainBatched when probes are FORCED (threshold 1.0, enough " +
       "rounds to clear the investment gate) — the arm switch " +
       "changes cost, never the merge table (r18 infrastructure " +
       "gate: the shadow round's assembled output IS the round " +
       "result whichever way the floor decides)") {
      val rnd = new scala.util.Random(83)
      // deep corpus: enough distinct merges for 20+ rounds so the
      // probe-start gate (>= 16 rounds remaining) is open at round 1
      val texts = Seq.fill(4)(
        Seq.fill(120)(Seq.fill(3 + rnd.nextInt(8))(
          ('a' + rnd.nextInt(6)).toChar).mkString).mkString(" "))
      val batched = BpeTrain
        .trainBatched(texts.toDF("text"), "text", nRounds = 20,
          batchSize = 8)
        .as[(Long, Long, String, Long)].collect().toSeq.sortBy(_._1)
      val arms = scala.collection.mutable.ArrayBuffer
        .empty[(Int, Boolean, Double)]
      val inc = BpeTrain
        .trainIncremental(texts.toDF("text"), "text", nRounds = 20,
          batchSize = 8, recountThreshold = 1.0,
          onArm = Some((r, d, sig) => arms += ((r, d, sig))))
        .as[(Long, Long, String, Long)].collect().toSeq.sortBy(_._1)
      assert(inc == batched && batched.nonEmpty,
        "forced-probe incremental diverged from trainBatched")
      // with threshold 1.0 every eligible round takes the delta arm:
      // round 1 is the shadow/transition round, later rounds are
      // steady delta — BOTH shapes must have run for this identity
      // to cover the shadow assembly
      assert(arms.count(_._2) >= 2,
        s"expected a shadow transition plus steady delta rounds, " +
          s"got arms=${arms.toList}")
      assert(arms.forall { case (_, _, sig) => sig <= 1.0 })
    }

    it("Dsir.logImportanceWeights matches a plain-Scala reference " +
       "and separates a planted target domain by sign") {
      def md5b(s: String, buckets: Int): Long = {
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        java.lang.Long.parseLong(h.take(15), 16) % buckets
      }
      // target docs speak 'cooking', raw pool mostly speaks 'legal'
      val texts = (0L until 20L).map { id =>
        val words = if (id % 4 == 0)
          Seq("whisk", "saute", "roux", "braise", "simmer")
        else Seq("hereby", "plaintiff", "statute", "tort", "clause")
        (id, (0 until 6).map(j => words(((id + j) % 5).toInt))
          .mkString(" "))
      }
      val B = 64
      def featsOf(t: String): Seq[Long] = {
        val w = t.split(" ").toSeq
        (w ++ w.zip(w.drop(1)).map { case (a, b) => s"$a $b" })
          .map(md5b(_, B))
      }
      val all = texts.flatMap { case (id, t) =>
        featsOf(t).map(b => (id, id % 4 == 0, b)) }
      val nr = all.size.toDouble
      val nt = all.count(_._2).toDouble
      val cr = all.groupBy(_._3).view.mapValues(_.size.toLong).toMap
      val ct = all.filter(_._2).groupBy(_._3).view
        .mapValues(_.size.toLong).toMap
      def r9(x: Double) = BigDecimal(x)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP)
      val lam = cr.keys.map { b =>
        b -> r9(math.log((ct.getOrElse(b, 0L) + 1.0) / (nt + B)) -
          math.log((cr(b) + 1.0) / (nr + B))) }.toMap
      val want = texts.map { case (id, t) =>
        val fs = featsOf(t)
        (id, fs.size.toLong, fs.map(lam).sum
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      val got = Dsir.logImportanceWeights(texts.toDF("doc_id", "text"),
          "doc_id", "text", isTarget = col("doc_id") % 4 === 0,
          nBuckets = B)
        .as[(Long, Long, Double)].collect().toSeq.sortBy(_._1)
      assert(got == want)
      // target-domain docs must weigh positive, off-domain negative
      got.foreach { case (id, _, w) =>
        if (id % 4 == 0) assert(w > 0, s"target doc $id got $w")
        else assert(w < 0, s"off-domain doc $id got $w")
      }
    }

    it("NgramLm.docScores matches a plain-Scala Stupid Backoff " +
       "reference on a hand-checkable corpus") {
      val texts = Seq((0L, "a b a b c"), (1L, "a b"), (2L, "c c a"),
        (3L, "z"))
      val words = texts.flatMap(_._2.split(" "))
      val n = words.size.toLong
      val cu = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val cb = texts.flatMap { case (_, t) =>
        val w = t.split(" "); w.zip(w.drop(1)) }
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      def r9(x: Double) = BigDecimal(x)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP)
      val want = texts.map { case (id, t) =>
        val w = t.split(" ")
        val lps = w.zipWithIndex.map { case (wi, i) =>
          if (i == 0) r9(math.log(cu(wi).toDouble / n))
          else cb.get((w(i - 1), wi)) match {
            case Some(c) => r9(math.log(c.toDouble / cu(w(i - 1))))
            case None => r9(math.log(0.4 * cu(wi) / n))
          }
        }
        (id, w.length.toLong,
          (lps.sum / w.length)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      val got = NgramLm.docScores(texts.toDF("doc_id", "text"),
          "doc_id", "text")
        .as[(Long, Long, Double)].collect().toSeq.sortBy(_._1)
      assert(got == want)
    }

    it("tokenCounts = reference segmentation lengths per doc") {
      val texts = Seq("aaab aaab abab", "bbaa aaa aa", "ab aaab b")
      val merges = refBpe(texts, 4).map(_._2)
      def segLen(w: String): Int = {
        var syms = w.toList.map(_.toString)
        merges.foreach { p =>
          val Array(a, b) = p.split(" ", 2)
          val out = scala.collection.mutable.ListBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              out += (a + b); i += 2
            } else { out += syms(i); i += 1 }
          }
          syms = out.toList
        }
        syms.length
      }
      val want = texts.zipWithIndex.map { case (t, i) =>
        (i.toLong, t.split(" ").filter(_.nonEmpty).map(segLen).sum.toLong) }
        .toMap
      val got = BpeTrain.tokenCounts(
          texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
            .toDF("doc_id", "text"),
          "doc_id", "text", merges)
        .as[(Long, Long)].collect().toMap
      assert(got == want)
    }
  }

  describe("SuffixArray vs brute-force suffix sort") {
    // seeded random small-alphabet strings — tiny seedLen values force
    // multiple doubling rounds and full-suffix ties (equal docs), the
    // two regimes where prefix doubling can go wrong
    for ((seed, n, len, seedLen) <- Seq((1, 6, 40, 4), (2, 10, 25, 2),
        (3, 4, 70, 64), (4, 8, 55, 8), (5, 12, 15, 3), (6, 5, 90, 16),
        (7, 9, 33, 5), (8, 7, 48, 32), (9, 11, 21, 2), (10, 6, 64, 6)))
      it(s"matches on seed $seed ($n docs, len<=$len, seedLen=$seedLen)") {
        val rnd = new scala.util.Random(seed)
        val texts = (0L until n.toLong).map { i =>
          // doc n-1 duplicates doc 0: planted full-suffix ties
          if (i == n - 1) (i, "") else
            (i, Seq.fill(1 + rnd.nextInt(len))(
              ('a' + rnd.nextInt(3)).toChar).mkString)
        }
        val fixed = texts.map { case (i, t) =>
          if (i == n - 1) (i, texts.head._2) else (i, t) }
        val got = SuffixArray
          .build(fixed.toDF("doc_id", "text"), "doc_id", "text", seedLen)
          .select("rank", "doc_id", "off")
          .as[(Long, Long, Long)].collect().sortBy(_._1)
        val want = fixed.flatMap { case (i, t) =>
          (0 until t.length).map(o => (t.substring(o), i, o.toLong)) }
          .sortBy { case (s, i, o) => (s, i, o) }
          .zipWithIndex
          .map { case ((_, i, o), r) => (r.toLong, i, o) }
        assert(got.toSeq == want)
      }

    it("dupMarks flags exactly the positions sharing a >=L prefix") {
      val df = Seq((0L, "abcabcabcxyz"), (1L, "zzzabcabcabc"))
        .toDF("doc_id", "text")
      val got = SuffixArray.dupMarks(
          SuffixArray.build(df, "doc_id", "text", seedLen = 8), minLen = 5)
        .as[(Long, Long, Boolean)].collect()
        .map { case (d, o, dup) => (d, o) -> dup }.toMap
      // brute force: suffix shares a >=5-char prefix with ANY other
      val sfx = Seq((0L, "abcabcabcxyz"), (1L, "zzzabcabcabc"))
        .flatMap { case (i, t) =>
          (0 until t.length).map(o => (i, o.toLong, t.substring(o))) }
      val want = sfx.map { case (i, o, s) =>
        (i, o) -> (s.length >= 5 && sfx.exists { case (j, p, u) =>
          (j, p) != (i, o) && u.length >= 5 &&
            u.substring(0, 5) == s.substring(0, 5) })
      }.toMap
      assert(got == want)
    }

    it("fails loudly (not silently wrong) when maxRounds exhausts " +
       "before ranks individuate") {
      // seedLen 1 over a 3-letter alphabet with 40-char docs needs
      // ~log2(40) doubling rounds; maxRounds=1 can't get there
      val rnd = new scala.util.Random(3)
      val df = (0L until 4L).map { i =>
        (i, Seq.fill(40)(('a' + rnd.nextInt(3)).toChar).mkString) }
        .toDF("doc_id", "text")
      val e = intercept[IllegalArgumentException] {
        SuffixArray.build(df, "doc_id", "text",
          seedLen = 1, maxRounds = 1).count()
      }
      assert(e.getMessage.contains("maxRounds"))
    }
  }

  describe("Dedup.incrementalCC vs full recompute") {
    // the nightly shape: label wave 0, fold in wave 1's edges, and the
    // result must equal a full CC over the union — across regimes
    // where the wave merges old components, attaches new nodes to old
    // components, and forms brand-new components (including a new node
    // BELOW an old root, which must re-root the old component).
    for ((seed, nodes, e0, e1) <- Seq((5, 80, 60, 60), (21, 60, 90, 20),
        (33, 100, 25, 75)))
      it(s"matches connectedComponents over the union (seed $seed, " +
          s"$nodes nodes, $e0+$e1 edges)") {
        val rnd = new scala.util.Random(seed)
        def wave(n: Int, lo: Int) = Seq.fill(n)(
            (lo + rnd.nextInt(nodes - lo).toLong,
              rnd.nextInt(nodes).toLong))
          .filter { case (a, b) => a != b }
        // wave 0 avoids the lowest ids so wave 1 can introduce nodes
        // smaller than existing roots
        val w0 = wave(e0, lo = 10)
        val w1 = wave(e1, lo = 0)
        val labels0 = Dedup.connectedComponents(w0.toDF("d1", "d2"))
        val got = Dedup.incrementalCC(labels0, w1.toDF("d1", "d2"))
          .as[(Long, Long)].collect().toMap
        val full = Dedup.connectedComponents((w0 ++ w1).toDF("d1", "d2"))
          .as[(Long, Long)].collect().toMap
        assert(got == full && full.nonEmpty)
      }

    it("iterated nightly waves equal one full recompute (3 folds)") {
      // the production shape is REPEATED application: label wave 0,
      // fold wave 1, fold wave 2 into THAT result, fold wave 3 —
      // each fold's output must be a valid input for the next
      val rnd = new scala.util.Random(99)
      def wave(n: Int) = Seq.fill(n)(
          (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
        .filter { case (a, b) => a != b }
      val waves = Seq(wave(50), wave(30), wave(30), wave(30))
      var labels = Dedup.connectedComponents(waves.head.toDF("d1", "d2"))
      waves.tail.foreach { w =>
        labels = Dedup.incrementalCC(labels, w.toDF("d1", "d2"))
          .localCheckpoint()
      }
      val full = Dedup.connectedComponents(
        waves.flatten.toDF("d1", "d2"))
      assert(labels.as[(Long, Long)].collect().toMap ==
        full.as[(Long, Long)].collect().toMap)
    }

    it("an empty wave leaves the labeling untouched") {
      val w0 = Seq((10L, 11L), (12L, 13L))
      val labels0 = Dedup.connectedComponents(w0.toDF("d1", "d2"))
      val got = Dedup.incrementalCC(labels0,
        Seq.empty[(Long, Long)].toDF("d1", "d2"))
        .as[(Long, Long)].collect().toMap
      assert(got == labels0.as[(Long, Long)].collect().toMap)
    }
  }

  describe("Multimodal.audioVadSegments") {
    it("segments planted loud/quiet frame patterns") {
      // frameLen 4: 'z'=122 -> 4*122^2=59536 ; 'a'=97 -> 37636
      // pattern per doc: (speech?) runs with threshold 50000
      val docs = Seq(
        (0L, "zzzz" + "zzzz" + "aaaa" + "zzzz"),  // [S,S,q,S] -> 2 seg, longest 2
        (1L, "aaaa" + "aaaa"),                    // none -> 0 seg
        (2L, "zzzz" * 5),                         // all  -> 1 seg of 5
        (3L, "zz"))                               // shorter than a frame -> no row
        .toDF("doc_id", "text")
      val got = Multimodal.audioVadSegments(
          Multimodal.withPayload(docs, "doc_id", "text"),
          frameLen = 4, hop = 4, threshold = 50000L)
        .collect().map(v =>
          v.doc_id -> ((v.n_frames, v.n_speech, v.n_segments,
            v.longest_seg))).toMap
      assert(got == Map(
        0L -> ((4L, 3L, 2L, 2L)),
        1L -> ((2L, 0L, 0L, 0L)),
        2L -> ((5L, 5L, 1L, 5L))))
    }
  }

  describe("Multimodal.frameSceneStats") {
    it("cuts exactly where planted frame diffs cross the threshold") {
      // frameLen 4, diff(aaaa,zzzz) = 4*(122-97)^2 = 2500
      val docs = Seq(
        (0L, "aaaa" + "aaaa" + "zzzz"),  // diffs [0, 2500] -> 1 cut, 2 scenes
        (1L, "aaaa" + "zzzz" + "aaaa" + "zzzz"),  // [2500,2500,2500] -> 4 scenes
        (2L, "aaaa" + "aaaa"),           // [0] -> 1 scene
        (3L, "aaaaaa"))                  // shorter than 2 frames -> no row
        .toDF("doc_id", "text")
      val got = Multimodal.frameSceneStats(
          Multimodal.withPayload(docs, "doc_id", "text"),
          frameLen = 4, threshold = 1000L)
        .collect().map(v =>
          v.doc_id -> ((v.n_cmp, v.n_cuts, v.n_scenes))).toMap
      assert(got == Map(
        0L -> ((2L, 1L, 2L)),
        1L -> ((3L, 3L, 4L)),
        2L -> ((1L, 0L, 1L))))
    }
  }

  describe("Sampling.packSequences vs prefix-sum reference") {
    it("matches per-bucket running offsets on seeded random token counts") {
      val rnd = new scala.util.Random(7)
      val docs = (0L until 250L).map(i => (i, 1L + rnd.nextInt(900)))
      val got = Sampling
        .packSequences(docs.toDF("doc_id", "nt"), "doc_id", col("nt"),
          budget = 1024, bucketSize = 64)
        .select("doc_id", "start_tok", "seq_id")
        .as[(Long, Long, Long)].collect().sortBy(_._1)
      val expected = docs.groupBy(_._1 / 64).flatMap { case (b, ds) =>
        ds.sortBy(_._1).scanLeft((-1L, 0L, 0L)) {
          case ((_, acc, _), (id, nt)) => (id, acc + nt, acc / 1024)
        }.drop(1).map { case (id, accAfter, _) =>
          val start = accAfter - docs.find(_._1 == id).get._2
          (id, start, start / 1024)
        }
      }.toSeq.sortBy(_._1)
      assert(got.toSeq == expected)
    }
  }

  describe("Compact z-order clustering") {
    // Scala reference for the Morton interleave (col 0 owns the MSB).
    def morton(bits: Int, ids: Seq[Long]): Long = {
      val k = ids.size
      (for {
        i <- 0 until bits
        (b, j) <- ids.zipWithIndex
      } yield ((b >> i) & 1L) << (i * k + (k - 1 - j))).sum
    }

    it("zValue matches the bit-twiddling reference over the full domain") {
      val pairs = for (a <- 0 until 16; b <- 0 until 16) yield (a.toLong, b.toLong)
      val got = pairs.toDF("a", "b")
        .select(col("a"), col("b"),
          Compact.zValue(Seq(col("a"), col("b")), 4))
        .as[(Long, Long, Long)].collect()
      got.foreach { case (a, b, z) => assert(z == morton(4, Seq(a, b))) }
      // z is a bijection on the 8-bit domain
      assert(got.map(_._3).distinct.length == 256)
    }

    it("uniformBucket is exact integer math with ids in [0, n)") {
      val ids = spark.range(1, 1001)
        .select(Compact.uniformBucket(col("id"), lit(1L), lit(1000L), 16).as("b"))
        .as[Long].collect()
      assert(ids.min == 0 && ids.max == 15)
      // matches the width-based reference: bucket = (v - min) / ceil(span/n)
      assert(ids.toSeq == (1L to 1000L).map(v => (v - 1) / (999 / 16 + 1)))
    }

    it("boundaryBucket counts boundaries <= x") {
      val b = Seq(10.0, 20.0, 30.0)
      val got = Seq(5L, 10L, 15L, 25L, 35L).toDF("x")
        .select(Compact.boundaryBucket(col("x"), b).as("b")).as[Long].collect()
      assert(got.toSeq == Seq(0L, 1L, 1L, 2L, 3L))
    }

    it("z-ordered layout prunes row groups for predicates on BOTH columns") {
      val base = java.nio.file.Files.createTempDirectory("graft-zprune").toString
      val data = spark.range(0, 1 << 14)
        .select(col("id"),
          (col("id") % 64).as("x"),
          pmod(hash(col("id")), lit(64)).cast("long").as("y"))
      data.repartition(16).write.parquet(s"$base/rr")          // round-robin
      data.repartition(16).write.parquet(s"$base/zin")
      Compact.parquetZOrder(spark, s"$base/zin", s"$base/zord",
        Seq("x", "y"), bits = 4,
        targetBytes = (Compact.sizeOf(spark, s"$base/zin") / 16).max(1))
      // Same selective predicate on both clustered columns; parquet
      // min/max stats can only skip where the layout gives each file a
      // narrow (x, y) region — i.e. after z-ordering.
      def rowsScanned(path: String): Long = {
        val df = spark.read.parquet(path)
          .filter(col("x") === 3 && col("y") === 5)
        // collect() executes THIS queryExecution, so its scan metrics
        // are populated (count() would plan and run a separate query).
        assert(df.collect().nonEmpty) // predicate actually selects rows
        df.queryExecution.executedPlan.collectLeaves()
          .head.metrics("numOutputRows").value
      }
      val rr = rowsScanned(s"$base/rr")
      val zo = rowsScanned(s"$base/zord")
      // Round-robin smears every (x, y) across all files (stats ranges
      // cover the whole domain -> nothing skips); z-order confines the
      // predicate to a few files/row groups.
      assert(zo < rr, s"z-ordered scan read $zo rows vs round-robin $rr")
      assert(zo <= rr / 4, s"expected >=4x row-group pruning, got $zo vs $rr")
    }

    it("parquetZOrder writes disjoint z-ranges across files") {
      val in = java.nio.file.Files.createTempDirectory("graft-z-in").toString
      val out = java.nio.file.Files.createTempDirectory("graft-z-out").toString
      // two independent uniform columns -> z-order must cluster both
      spark.range(0, 4096)
        .select(col("id"),
          (col("id") % 64).as("x"),
          pmod(hash(col("id")), lit(64)).cast("long").as("y"))
        .repartition(8)
        .write.mode("overwrite").parquet(in)
      val bytes = Compact.sizeOf(spark, in)
      val res = Compact.parquetZOrder(spark, in, out,
        Seq("x", "y"), bits = 4, targetBytes = (bytes / 4).max(1))
      assert(res.files >= 2)
      assert(spark.read.parquet(out).count() == 4096)
      // Per-file z ranges must be disjoint (repartitionByRange on z):
      // recompute z per output file with the SAME boundaries the writer
      // used and compare [min,max] intervals.
      val boundsByFile = spark.read.parquet(out)
        .select(input_file_name().as("f"),
          Compact.zValue(Seq(
            Compact.boundaryBucket(col("x"), res.boundaries(0)),
            Compact.boundaryBucket(col("y"), res.boundaries(1))), 4))
        .groupBy("f").agg(min("z").as("lo"), max("z").as("hi"))
        .as[(String, Long, Long)].collect()
        .map { case (_, lo, hi) => (lo, hi) }.sortBy(_._1)
      assert(boundsByFile.length >= 2)
      boundsByFile.sliding(2).foreach {
        case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2)
        case _ =>
      }
    }
  }

  describe("Dedup.longGramHashes") {
    it("flags docs sharing a full n-token window, at distinct (id, hash) grain") {
      // docs 0 and 1 are identical 9-token texts → every 9-gram collides;
      // doc 2 differs in the last token → no shared 9-gram at n=9.
      val g = Dedup.longGramHashes(docs, "doc_id", "text", 9)
      val owners = g.groupBy("gh").agg(min("doc_id").as("own"))
      val dup = g.join(owners, "gh")
        .filter($"own" < $"doc_id").select("doc_id").distinct()
        .as[Long].collect().toSet
      assert(dup == Set(1L))
    }
    it("yields no rows for docs shorter than n tokens") {
      val g = Dedup.longGramHashes(docs, "doc_id", "text", 50)
      assert(g.count() == 0)
    }
  }

  describe("Multimodal.audioFrameStats") {
    it("computes overlapping frame count and exact loudest-frame offset") {
      // 10-byte payload, frame 4, hop 2 → offsets 0,2,4,6 (4 frames).
      // Bytes ramp up, so the LAST frame is loudest → 1-based offset 7.
      val blobs = Seq(graft.operators.Blob(7L, Array[Byte](1, 1, 1, 1, 2, 2, 3, 3, 9, 9)))
        .toDS()
      val st = Multimodal.audioFrameStats(blobs, frameLen = 4, hop = 2).head()
      assert(st.n_frames == 4L)
      assert(st.max_energy == (3 * 3 + 3 * 3 + 9 * 9 + 9 * 9).toLong)
      assert(st.argmax_off == 7L)
    }
    it("treats bytes as unsigned 8-bit samples and skips short blobs") {
      val blobs = Seq(
        graft.operators.Blob(1L, Array[Byte](-1, -1)),   // 255² × 2
        graft.operators.Blob(2L, Array[Byte](1))).toDS()
      val out = Multimodal.audioFrameStats(blobs, frameLen = 2, hop = 2).collect()
      assert(out.map(_.doc_id).toSet == Set(1L))
      assert(out.head.max_energy == 2L * 255 * 255)
    }
  }

  describe("persisted dedup store lifecycle (d62/w28 shape)") {
    it("keeps the store distinct and rejects exactly per first-admitted") {
      // three waves: wave 0 = docs A,B; wave 1 = C (dup of A), D (new);
      // wave 2 = E (dup of D — must be rejected even though D arrived
      // after the bootstrap), F (dup of C — must be ADMITTED, because
      // the rejected C never entered the store... unless F also shares
      // a bucket with A, which it does, being C's dup — so F is
      // rejected via A. G is a true singleton.)
      val mk = (i: Long, txt: String) => (i, txt)
      val docs = Seq(
        mk(0L, "alpha beta gamma delta epsilon zeta"),   // A wave 0
        mk(3L, "one two three four five six"),           // B wave 0
        mk(1L, "alpha beta gamma delta epsilon zeta"),   // C wave 1 dup(A)
        mk(4L, "seven eight nine ten eleven twelve"),    // D wave 1 new
        mk(2L, "seven eight nine ten eleven twelve"),    // E wave 2 dup(D)
        mk(5L, "alpha beta gamma delta epsilon zeta"),   // F wave 2 dup(A)
        mk(8L, "unique solitary single lonely only sole")// G wave 2 new
      ).toDF("doc_id", "text")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-d62-spec").toString
      try {
        val store = s"$tmp/store"
        val wave = col("doc_id") % 3
        Dedup.minhashBands(docs.filter(wave === 0), "doc_id", "text")
          .select($"j", $"sig").distinct()
          .write.mode("overwrite").parquet(store)
        val flags = (1 to 2).map { w =>
          val nb = Dedup
            .minhashBands(docs.filter(wave === w), "doc_id", "text")
            .localCheckpoint()
          val hit = nb.join(spark.read.parquet(store), Seq("j", "sig"))
            .select($"doc_id").distinct()
          val fl = docs.filter(wave === w).select($"doc_id")
            .join(hit.withColumn("_h", lit(1)), Seq("doc_id"), "left")
            .select($"doc_id",
              coalesce($"_h" === 1, lit(false)).as("rejected"))
            .localCheckpoint()
          nb.join(fl.filter(!$"rejected"), Seq("doc_id"), "left_semi")
            .select($"j", $"sig").distinct()
            .write.mode("append").parquet(store)
          fl
        }
        val out = flags.reduce(_ union _)
          .as[(Long, Boolean)].collect().toMap
        assert(out == Map(1L -> true,  // C rejected via A
                          4L -> false, // D admitted
                          2L -> true,  // E rejected via admitted D
                          5L -> true,  // F rejected via A's store buckets
                          8L -> false))// G admitted
        // the store-distinctness invariant the scaladoc claims: an
        // admitted doc shares no bucket with the store, so appends can
        // never introduce a duplicate (j, sig)
        val st = spark.read.parquet(store)
        assert(st.count() == st.distinct().count())
      } finally {
        graft.queries.Rm.rf(tmp)
      }
    }
  }

  describe("NfcNormalize (native expression)") {
    it("recomposes where a precomposed form exists and only there") {
      val fix = Seq(
        ("a\u0301", "\u00e1"),  // a + COMBINING ACUTE -> precomposed
        ("o\u0308", "\u00f6"),  // o + COMBINING DIAERESIS -> precomposed
        ("q\u0301", "q\u0301"), // no precomposed q-acute: unchanged
        ("\u00e1", "\u00e1"),   // already NFC: identity
        ("plain", "plain"))
        .toDF("s", "expect")
      fix.select(graft.functions.Fns.nfc_normalize($"s").as("n"), $"expect")
        .collect()
        .foreach(r => assert(r.getString(0) == r.getString(1)))
    }
    it("registers in SQL and propagates null") {
      graft.GraftExtensions.install(spark)
      val r = spark.sql(
        "SELECT nfc_normalize('a\u0301') AS n, " +
          "nfc_normalize(CAST(NULL AS STRING)) AS z").head()
      assert(r.getString(0) == "\u00e1" && r.isNullAt(1))
    }
  }

  describe("SparkEntry contract") {
    it("has unique names and every oracle key is a declared query") {
      val names = graft.SparkEntry.catalog.map(_.name)
      assert(names.distinct.size == names.size)
      assert(graft.SparkEntry.oracleSql.keySet.subsetOf(names.toSet))
    }
  }
}
