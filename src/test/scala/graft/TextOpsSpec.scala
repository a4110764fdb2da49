package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.SynthDocs
import graft.textops.{Dedup, Multimodal, Similarity, TextQuality}

class TextOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val fixture = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy dog today"), // near dup of 0 (superset)
    (3L, "completely different words entirely unrelated content here"),
    (4L, "der hund ist gross und die katze ist klein")
  ).toDF("doc_id", "text")

  test("exact dedup keeps min-id survivor with copy count") {
    val r = Dedup.exact(fixture, "doc_id", "text").orderBy("survivor_id").collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    assert(r.toSeq == Seq((0L, 2L), (2L, 1L), (3L, 1L), (4L, 1L)))
  }

  test("minhash: near-dups verified by jaccard; identical texts collapse to exact's survivor") {
    val pairs = Dedup.minhashDedup(fixture, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val asMap = pairs.map(p => (p._1, p._2) -> p._3).toMap
    // docs 0/2 share 8/9 tokens — banding catches them, verify is exact
    assert(math.abs(asMap((0L, 2L)) - 0.888889) < 1e-6)
    assert(!asMap.contains((0L, 3L)))
    // docs 0/1 are byte-identical: that's exact()'s output (survivor 0,
    // n_copies 2), NOT a minhash pair — the duplicate-heavy-corpus guard
    assert(!asMap.contains((0L, 1L)))
    // verify step computes exact jaccard for an explicit candidate: 8/9
    val tids = Dedup.docTokenIds(fixture, "doc_id", "text")
    val j = Dedup.jaccardVerify(Seq((0L, 2L)).toDF("doc_a", "doc_b"), tids, 0.0)
      .first().getDouble(2)
    assert(math.abs(j - 0.888889) < 1e-6)
  }

  test("dupGroups folds pairs into components; dropDuplicates keeps canonicals + singletons") {
    // transitive chain 1-2-3 (near-dup is not transitive, equivalence-class
    // semantics ARE the contract), separate pair 7-8, docs 4/9 untouched
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("doc_a", "doc_b")
    val groups = Dedup.dupGroups(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
    val corpus = Seq(1L, 2L, 3L, 4L, 7L, 8L, 9L).map(i => (i, s"t$i"))
      .toDF("doc_id", "text")
    val kept = Dedup.dropDuplicates(corpus, "doc_id", Dedup.dupGroups(pairs))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // canonicals survive, non-canonical members drop, unpaired docs stay
    assert(kept == Set(1L, 4L, 7L, 9L))
    // end-to-end with a real pair producer: the fixture's exact pair (0,1)
    // plus its near pair (0,2) collapse to one group rooted at 0
    val surv = fixture.groupBy($"text")
      .agg(org.apache.spark.sql.functions.min($"doc_id").as("doc_a"))
    val exactPairs = fixture.join(surv, Seq("text"))
      .filter($"doc_id" =!= $"doc_a").select($"doc_a", $"doc_id".as("doc_b"))
    val all = exactPairs.unionByName(
      Dedup.minhashDedup(fixture, "doc_id", "text", threshold = 0.5)
        .select($"doc_a", $"doc_b"))
    val g2 = Dedup.dupGroups(all).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g2 == Map(0L -> 0L, 1L -> 0L, 2L -> 0L))
    assert(Dedup.dropDuplicates(fixture, "doc_id", Dedup.dupGroups(all))
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(0L, 3L, 4L))
  }

  test("minhash duplicate guard: k identical docs yield O(1) candidates, not O(k^2)") {
    // 60 byte-identical docs + 2 distinct ones: without the exact-first
    // collapse the band self-join would emit 60*59/2 pairs per band
    val dup = (0L until 60L).map(i => (i, "the quick brown fox jumps over the lazy dog")) ++
      Seq((100L, "an entirely different sentence about graphs"),
          (101L, "the quick brown fox jumps over a sleepy dog"))
    val df = dup.toDF("doc_id", "text")
    val survivors = df.groupBy($"text").agg(org.apache.spark.sql.functions.min($"doc_id").as("doc_id"))
      .select($"doc_id", $"text")
    val cands = Dedup.minhashCandidates(
      Dedup.minhashSignatures(Dedup.docTokenIds(survivors, "doc_id", "text")))
    assert(cands.count() <= 3) // pairs among 3 distinct texts only
    // and the end-to-end pipeline reports no intra-duplicate pairs
    val pairs = Dedup.minhashDedup(df, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.forall { case (a, b) => !(a < 60 && b < 60) })
    // the duplicate group itself is exact()'s output
    val ex = Dedup.exact(df, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ex.contains((0L, 60L)))
  }

  test("hashed-token minhash (vocab-free scale path): sound pairs, identical jaccard values") {
    val pairs = Dedup.minhashDedupHashed(fixture, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // soundness: every reported pair really clears the exact set-Jaccard bar
    // (computed over the arithmetic ids — same token SETS, same jaccard)
    val tids = Dedup.docTokenIds(fixture, "doc_id", "text")
    pairs.foreach { case ((a, b), j) =>
      val exactJ = Dedup.jaccardVerify(Seq((a, b)).toDF("doc_a", "doc_b"), tids, 0.0)
        .first().getDouble(2)
      assert(j == exactJ && j >= 0.5)
    }
    // identical token sets have identical hashed signatures — collide on
    // every band regardless of hash values; via the survivor collapse they
    // appear as exact()'s group, never as a pair
    assert(!pairs.contains((0L, 1L)))
    // duplicate-guard holds on the hashed path too
    val dup = (0L until 40L).map(i => (i, "same text for every doc")) :+
      ((99L, "something else entirely"))
    val cands = Dedup.minhashCandidates(Dedup.minhashSignatures61(
      Dedup.docTokenIdsHashed(
        dup.toDF("doc_id", "text").groupBy($"text")
          .agg(org.apache.spark.sql.functions.min($"doc_id").as("doc_id"))
          .select($"doc_id", $"text"), "doc_id", "text")))
    assert(cands.count() <= 1)
  }

  test("61-bit signature arithmetic: overflow-safe (a*t+b) mod 2^61-1 == BigInt oracle") {
    val p = BigInt(Dedup.MinhashP61)
    // tids spanning the whole 61-bit universe, incl. values whose a*t
    // product overflows a signed 64-bit long by ~2^30
    val tids = Seq(0L, 1L, 12345L, (1L << 31) - 1, 1L << 31, (1L << 45) + 17L,
      Dedup.MinhashP61 - 1, Dedup.MinhashP61 - 2, 987654321987654321L)
    val df = tids.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc", "tid")
    val got = Dedup.minhashSignatures61(df, k = 8).collect()
      .map(r => r.getLong(0) -> (0 until 8).map(j => r.getLong(j + 1))).toMap
    tids.zipWithIndex.foreach { case (t, i) =>
      (0 until 8).foreach { j =>
        val expect = ((BigInt(Dedup.MinhashA(j)) * t + Dedup.MinhashB(j)) mod p).toLong
        assert(got(i.toLong)(j) == expect,
          s"h$j(tid=$t): got ${got(i.toLong)(j)}, want $expect")
      }
    }
    // and hashed tids really live in the 61-bit universe (not the 31-bit one)
    val maxTid = Dedup.docTokenIdsHashed(fixture, "doc_id", "text")
      .agg(org.apache.spark.sql.functions.max($"tid")).first().getLong(0)
    assert(maxTid > (1L << 31) && maxTid < Dedup.MinhashP61)
    // randomized sweep: 200 seeded-uniform tids over the full universe
    val rnd = new scala.util.Random(61L)
    val rtids = Seq.fill(200)(math.abs(rnd.nextLong()) % Dedup.MinhashP61)
    val rdf = rtids.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc", "tid")
    val rgot = Dedup.minhashSignatures61(rdf, k = 8).collect()
      .map(r => r.getLong(0) -> (0 until 8).map(j => r.getLong(j + 1))).toMap
    rtids.zipWithIndex.foreach { case (t, i) =>
      (0 until 8).foreach { j =>
        val expect = ((BigInt(Dedup.MinhashA(j)) * t + Dedup.MinhashB(j)) mod p).toLong
        assert(rgot(i.toLong)(j) == expect, s"random tid $t h$j")
      }
    }
  }

  test("simhash: equal token sets → equal signature; disjoint sets differ") {
    val sig = Dedup.simhash(Dedup.docTokenIds(fixture, "doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(0L) == sig(1L))
    assert(sig(0L) != sig(3L))
  }

  test("ngram jaccard pairs on hand-checked shingles") {
    val r = Dedup.ngramJaccardPairs(fixture, "doc_id", "text", n = 3, threshold = 0.3)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSeq
    // 0 and 1 identical → jaccard 1.0 on 3-grams
    assert(r.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 1.0))
    // 0 vs 3 share no 3-gram
    assert(!r.exists(p => p._1 == 0L && p._2 == 3L))
  }

  test("vec_dot codegen expression == aggregate(zip_with(...)) bit-for-bit") {
    import graft.functions.gf
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter($"vec_id" < 100)
    val hof = aggregate(
      zip_with($"a.embedding", $"b.embedding",
        (u, v) => u.cast("double") * v.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val pairs = vecs.as("a").join(vecs.as("b"), $"a.vec_id" < $"b.vec_id")
      .select(gf.vec_dot($"a.embedding", $"b.embedding").as("fast"), hof.as("slow"))
      .collect()
    assert(pairs.nonEmpty)
    // bit-identical, not approximately equal: same accumulation order
    assert(pairs.forall(r => r.getDouble(0) == r.getDouble(1)))
    // null / length-mismatch propagation like zip_with
    val odd = Seq((Array(1f, 2f), Array(1f, 2f, 3f)), (null, Array(1f))).toDF("x", "y")
    val got = odd.select(gf.vec_dot($"x", $"y")).collect()
    assert(got.forall(_.isNullAt(0)))
    // literal double sign-vectors against float embeddings
    val sv = (0 until 64).map(i => Similarity.planeSignValue(0, i))
    val viaLit = vecs.select(gf.vec_dot($"embedding", typedLit(sv)).as("d"))
      .collect().map(_.getDouble(0))
    val viaHof = vecs.select(aggregate(
        zip_with($"embedding", typedLit(sv), (u, v) => u.cast("double") * v),
        lit(0.0), (acc, x) => acc + x).as("d"))
      .collect().map(_.getDouble(0))
    assert(viaLit.sameElements(viaHof))
  }

  test("cosine + topK on hand vectors") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(0f, 1f, 0f)),
      (2L, Array(1f, 1f, 0f)), (3L, Array(-1f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.cosinePairs(vecs, "vec_id", "embedding", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(pairs.toSet == Set((0L, 2L, 0.7071), (1L, 2L, 0.7071)))
    val top = Similarity.topK(vecs.filter($"vec_id" === 0), vecs, "vec_id", "embedding", 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(top == Seq((0L, 1, 2L), (0L, 2, 1L))) // cos: 2→0.707, 1→0, 3→-1
  }

  test("LSH ANN: subset of brute force with nonzero recall on real embeddings") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter($"vec_id" < 200)
    val brute = Similarity.cosinePairs(e, "vec_id", "embedding", 0.2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshPairs(e, "vec_id", "embedding", 0.2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(brute))
    if (brute.nonEmpty) assert(lsh.nonEmpty, s"recall 0 over ${brute.size} true pairs")
    // IVF variant: same subset/recall contract through a different quantizer
    val ivf = Similarity.ivfPairs(e, "vec_id", "embedding", 0.2, nCentroids = 8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.subsetOf(brute))
    if (brute.nonEmpty) assert(ivf.nonEmpty, s"IVF recall 0 over ${brute.size} true pairs")
  }

  test("quality + langid heuristics") {
    val rows = fixture.select($"doc_id", TextQuality.langId($"text").as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows(0L) == "en")
    assert(rows(4L) == "de")
    val score = fixture.select(TextQuality.qualityScore($"text")).first().getDouble(0)
    assert(score > 0.0 && score <= 1.0)
  }

  test("fingerprint is order-sensitive and deterministic") {
    val df = Seq((0L, "alpha beta gamma"), (1L, "gamma beta alpha"), (2L, "alpha beta gamma"))
      .toDF("doc_id", "text")
    val fp = TextQuality.fingerprint(TextQuality.docPosTokenIds(df, "doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(0L) == fp(2L))
    assert(fp(0L) != fp(1L))
  }

  test("multimodal featurize: real plumbing, deterministic stub kernels") {
    val docs = SynthDocs.docs(spark, 200, 20).toDF()
    val media = Multimodal.mediaTable(docs)
    val feats = Multimodal.featurize(media, dims = 16)
    val a = feats.orderBy("media_id").collect()
    val b = Multimodal.featurize(Multimodal.mediaTable(docs), dims = 16)
      .orderBy("media_id").collect()
    assert(a.length == media.count() && a.length > 0)
    assert(a.map(_.getString(0)).sameElements(b.map(_.getString(0))))
    val embA = a.map(_.getAs[scala.collection.Seq[Float]]("embedding"))
    val embB = b.map(_.getAs[scala.collection.Seq[Float]]("embedding"))
    assert(embA.zip(embB).forall { case (x, y) => x == y })
    // unit-norm embeddings
    assert(embA.forall(v => math.abs(v.map(x => x * x).sum - 1.0) < 1e-3))
    assert(a.forall(r => r.getAs[Int]("width") >= 64 && r.getAs[Int]("height") >= 64))
  }

  test("frame sampling: uniform ⌊i·n/k⌋ indices verified by frame pixel color") {
    def frameColor(png: Array[Byte]): (Int, Int, Int) = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      val rgb = img.getRGB(0, 0)
      ((rgb >> 16) & 0xFF, (rgb >> 8) & 0xFF, rgb & 0xFF)
    }
    def expectColor(f: Int) = ((f * 37) % 256, (f * 101) % 256, (f * 197) % 256)
    // n=7 frames, k=3 → indices 0, 2, 4; n=2, k=3 → indices 0, 0, 1
    val out = Seq((7, 3), (2, 3)).toDF("n", "k")
      .select($"n", $"k",
        Multimodal.sampleFrames(Multimodal.encodeGif(lit(12), lit(10), $"n"), $"k").as("frames"))
      .collect().map(r => (r.getInt(0),
        r.getAs[scala.collection.Seq[Array[Byte]]]("frames").map(frameColor).toSeq)).toMap
    assert(out(7) == Seq(0, 2, 4).map(expectColor))
    assert(out(2) == Seq(0, 0, 1).map(expectColor))
  }

  test("intensity-grid embedding: real luminance path, not the hash stub") {
    val rows = Seq((64, 64, 1L), (64, 64, 1L), (64, 64, 2L)).toDF("w", "h", "seed")
      .select(Multimodal.embedImage(16)(
        Multimodal.encodePng($"w", $"h", $"seed")).as("e"))
      .collect().map(_.getAs[scala.collection.Seq[Float]]("e"))
    // luminance grid ⇒ all components non-negative (the stub has negatives)
    assert(rows.forall(v => v.forall(_ >= 0f)))
    assert(rows.forall(v => math.abs(v.map(x => x.toDouble * x).sum - 1.0) < 1e-3))
    // identical pixels → identical embedding; different pixels → different
    assert(rows(0) == rows(1))
    assert(rows(0) != rows(2))
    // an all-white image is a uniform unit vector: cos = 1/√16 per cell
    val white = new java.awt.image.BufferedImage(20, 20,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = white.createGraphics()
    g.setColor(java.awt.Color.WHITE); g.fillRect(0, 0, 20, 20); g.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(white, "png", bos)
    val wv = Seq(Tuple1(bos.toByteArray)).toDF("b")
      .select(Multimodal.embedImage(16)($"b").as("e"))
      .first().getAs[scala.collection.Seq[Float]]("e")
    assert(wv.forall(x => math.abs(x - 0.25f) < 1e-4))
  }

  test("audio: WAV container roundtrip, bit-exact RMS/peak vs direct arithmetic") {
    val n = 850
    val row = Seq(Tuple1(7L)).toDF("seed")
      .select(Multimodal.decodeAudio(
        Multimodal.encodeWav(lit(n), lit(8000), $"seed")).as("d"))
      .first().getStruct(0)
    assert(row.getString(0) == "wave" && row.getInt(1) == 8000 && row.getInt(2) == 1)
    assert(row.getLong(3) == n.toLong)
    val samples = (0 until n).map(t => (8L * (t + 1)) % 2001 - 1000)
    val rms = math.sqrt(samples.map(s => s * s).sum.toDouble / n)
    assert(row.getDouble(4) == rms) // integral sums → bit-exact, no epsilon
    assert(row.getLong(5) == samples.map(math.abs).max)
  }

  test("the text queries leave nothing in the cache manager") {
    // a corpus with exact and near duplicates, and a lineitem-shaped link
    // table, in the tables' parquet layout
    val dir = java.nio.file.Files.createTempDirectory("graft_text_cache").toString
    (0L until 60L).map { i =>
      val words = (0 until 60).map(j => s"w${i % 20}x$j")
      (i, (if (i % 7 == 0) words.init :+ "tail" else words).mkString(" "))
    }.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    (0L until 40L).map(i => (i % 13, i % 7)).toDF("l_partkey", "l_suppkey")
      .write.parquet(s"$dir/lineitem.parquet")
    spark.catalog.clearCache()
    for (q <- Seq("q_minhash", "q_minhash_hashed", "q_dup_groups", "q_clean_corpus",
        "q_simhash", "q_ngram_jaccard", "q_fingerprint", "q_merged_ids")) {
      assert(SparkEntry.queries(q)(spark, dir).collect().nonEmpty, q)
      assert(spark.sharedState.cacheManager.isEmpty, q)
    }
  }
}
