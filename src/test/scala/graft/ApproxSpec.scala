package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.sim.Knn
import graft.multimodal.BinaryPipeline

/** Pins the approximate (rows-only-checked) operators against their
  * exact oracle-verified counterparts: LSH-family methods must be
  * deterministic and recall a healthy fraction of the exact answer. */
class ApproxSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sfDir)
  private lazy val emb = Tables.embeddings(spark, sfDir)

  test("minhash-lsh candidates recall most exact high-jaccard pairs") {
    val exact = Dedup.ngramJaccard(docs, 0.9)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLsh(docs, threshold = 0.9)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    // every LSH-verified pair is a true pair (verification is exact)
    // note: lsh skips lang blocking so may find MORE true pairs
    val sameLangLsh = lsh.intersect(exact)
    val recall = sameLangLsh.size.toDouble / exact.size
    assert(recall >= 0.8, s"minhash recall $recall too low (|exact|=${exact.size})")
  }

  test("minhash-lsh degenerate band counts: bands=1 plans and runs") {
    // bands=1 makes the first-matching-band guard vacuous (empty
    // prior-band list) — must fold to TRUE, not throw on empty reduce
    val pairs = Dedup.minhashLsh(docs.limit(200), numHashes = 32,
      bands = 1, threshold = 0.9)
    assert(pairs.select("d1", "d2").as[(Long, Long)].collect()
      .forall { case (a, b) => a < b })
  }

  test("minhash bands must divide numHashes (no silent hash drop)") {
    val e = intercept[Exception] {
      Seq(Seq(1L, 2L)).toDF("hs").select(
        call_function(graft.expr.VectorExprs.minhashName,
          col("hs"), lit(32), lit(5))).collect()
    }
    assert(e.getMessage.contains("divisible"), e.getMessage)
  }

  test("embedding dedup excludes degenerate vectors instead of leaking NaN") {
    // zero vector and NaN-component vector: cosine undefined — both
    // must be dropped up front, never emitted as pairs (NaN >= t is
    // TRUE under Spark/DuckDB NaN ordering, so an unguarded verify
    // filter would pass them)
    val rows = Seq(
      (1L, "a", Array(1.0f, 0.0f)), (2L, "a", Array(1.0f, 0.01f)),
      (3L, "a", Array(0.0f, 0.0f)), (4L, "b", Array(Float.NaN, 1.0f)))
      .toDF("vec_id", "label", "embedding")
    val pairs = Dedup.embeddingPairs(rows, 0.9)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  test("simhash is deterministic and symmetric-free (d1 < d2)") {
    val a = Dedup.simhash(docs).as[(Long, Long, Int)].collect().toSeq.sorted
    val b = Dedup.simhash(docs).as[(Long, Long, Int)].collect().toSeq.sorted
    assert(a == b)
    assert(a.forall { case (d1, d2, h) => d1 < d2 && h <= 6 })
  }

  test("knn lsh and centroid results are subsets of plausible neighbors") {
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Knn.bruteForce(emb, queries, 20)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val lsh = Knn.lsh(emb, queries, 5).select("qid", "nid")
      .as[(Long, Long)].collect().toSet
    val cent = Knn.centroidKnn(emb, queries, 5).select("qid", "nid")
      .as[(Long, Long)].collect().toSet
    // approximate methods must return valid (non-self) neighbor ids,
    // deterministically
    assert(lsh.forall { case (q, n) => q != n })
    assert(cent.forall { case (q, n) => q != n })
    val lsh2 = Knn.lsh(emb, queries, 5).select("qid", "nid")
      .as[(Long, Long)].collect().toSet
    assert(lsh == lsh2)
    // centroid probe with 3/10 cells should still recover some of the
    // true top-20 (embeddings are near-random so exact recall is low)
    assert(cent.intersect(brute).nonEmpty)
  }

  test("ANN scale knobs: planes grow buckets, multi-probe grows recall, cell gate grows cells") {
    val queries = emb.filter(col("vec_id") < 5)
    // more planes → strictly finer bucketing of the same corpus
    val b3 = Knn.lshSignatures(emb, 3).select("sig").distinct().count()
    val b6 = Knn.lshSignatures(emb, 6).select("sig").distinct().count()
    assert(b6 > b3, s"expected 6-plane buckets ($b6) > 3-plane buckets ($b3)")
    // multi-probe searches a superset of buckets → recall vs the exact
    // top-k can only improve
    val brute = Knn.bruteForce(emb, queries, 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    def recall(probeBits: Int): Int =
      Knn.lsh(emb, queries, 5, planes = 6, probeBits = probeBits)
        .select("qid", "nid").as[(Long, Long)].collect().toSet
        .intersect(brute).size
    val r0 = recall(0); val r1 = recall(1)
    assert(r1 >= r0, s"multi-probe recall $r1 < single-bucket recall $r0")
    // hash-gated seeds decouple cell count from label cardinality
    val nLabels = emb.select("label").distinct().count()
    val gate = 4L
    val nCells = emb.filter(
      pmod(graft.mask.MaskFunctions.portableHash(col("vec_id")), lit(gate)) === 0L)
      .count()
    assert(nCells > nLabels,
      s"gate=$gate should seed more cells ($nCells) than labels ($nLabels)")
    val gated = Knn.centroidKnn(emb, queries, 5, nProbe = 2,
      cellGate = Some(gate)).select("qid", "nid").as[(Long, Long)].collect()
    assert(gated.nonEmpty && gated.forall { case (q, n) => q != n })
  }

  test("connected components label whole chains, not just direct pairs") {
    // chain 1~2, 2~3 plus isolated 4,5 and pair 4~5: components must
    // be {1,2,3} -> 1 and {4,5} -> 4 even though (1,3) is no pair
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("d1", "d2")
    val lbl = Dedup.components(nodes, pairs)
      .as[(Long, Long)].collect().toMap
    assert(lbl == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L))
  }

  private def hubGraph = {
    val hub = (1L to 400L).map(i => (0L, i))
    val up = (500L until 524L).map(i => (i, i + 1))
    val down = (581L to 600L).map(i => (i, i - 1))
    (((0L to 400L) ++ (500L to 524L) ++ (580L to 600L) :+ 999L)
      .toDF("doc_id"), (hub ++ up ++ down).toDF("d1", "d2"))
  }

  test("star contraction matches pointer jumping on a skewed hub graph") {
    // the skew case pointer jumping funnels through one min-label key:
    // a 400-spoke hub, an ascending chain, a DESCENDING-id chain (the
    // large-star stress shape), and an isolated node — both algorithms
    // must emit identical min-labels for every node
    val (nodes, pairs) = hubGraph
    val pj = Dedup.components(nodes, pairs).as[(Long, Long)].collect().toMap
    val st = Dedup.componentsStar(nodes, pairs).as[(Long, Long)].collect().toMap
    assert(st == pj)
    assert(st(400L) == 0L && st(524L) == 500L && st(581L) == 580L
      && st(999L) == 999L)
    // star labels (exactly one row per node) and pointer-jumping labels
    def both(nodes: Seq[Long], pairs: Seq[(Long, Long)]) = {
      val n = nodes.toDF("doc_id"); val p = pairs.toDF("d1", "d2")
      val st = Dedup.componentsStar(n, p).as[(Long, Long)].collect()
      assert(st.length == nodes.size, s"${st.length} label rows")
      (st.toMap, Dedup.components(n, p).as[(Long, Long)].collect().toMap)
    }
    // seeded random graphs with self-loops, duplicate and reversed pairs
    (1 to 5).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val raw = Seq.fill(45)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      val pairs = raw ++ raw.take(10) ++ raw.take(10).map(_.swap) ++
        (0L until 60L by 13L).map(i => (i, i))
      val (s, p) = both(0L until 70L, pairs)
      assert(s == p, s"seed $seed")
    }
    // an empty pair set: every node labels itself
    assert(both(Seq(1L, 2L), Nil) == ((Map(1L -> 1L, 2L -> 2L), Map(1L -> 1L, 2L -> 2L))))
    // no vertex has both a smaller and a larger neighbour, yet 5 and 6
    // each hang under two roots: not a star forest, so it must contract
    val (bs, bp) = both(1L to 6L, Seq((1L, 5L), (3L, 5L), (2L, 6L), (3L, 6L)))
    assert(bs == bp && bs.values.toSet == Set(1L, 4L))
  }

  test("star contraction returns a min-rooted star forest input after " +
      "zero contraction rounds") {
    // the checkpoint hook cuts the initial state and one neighbourhood
    // frame per round; each contraction round would add a state cut
    // and another frame
    var cuts = 0
    val counted = (df: org.apache.spark.sql.DataFrame) => {
      cuts += 1; Tables.cut(df, eager = false)
    }
    val pairs = (Seq((1L, 2L), (3L, 1L), (1L, 9L)) ++ Seq((4L, 7L), (8L, 4L)))
      .toDF("d1", "d2")
    val lbl = Dedup.componentsStar((1L to 10L).toDF("doc_id"), pairs,
        checkpoint = counted).as[(Long, Long)].collect().toMap
    assert(lbl == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 4L -> 4L,
      7L -> 4L, 8L -> 4L, 5L -> 5L, 6L -> 6L, 10L -> 10L))
    assert(cuts == 2, s"$cuts cuts: a star forest must need no contraction")
  }

  test("star contraction on the hub graph stays within its job budget") {
    // a round is four jobs: the frame's exchange, the convergence test
    // over the cut frame, the large-star exchange and the small-star
    // distinct. Here: 1 (initial state) + 4 × 5 rounds + 2 (final
    // frame and test) + 2 (collect) = 25 jobs; a round with a separate
    // convergence probe plus a final confirmation round ran 56.
    val (nodes, pairs) = hubGraph
    val jobs = jobsStartedBy(Dedup.componentsStar(nodes, pairs).collect())
    assert(jobs <= 28, s"componentsStar ran $jobs jobs")
  }

  test("both components loops fail closed at the iteration cap") {
    val nodes = (1L to 20L).toDF("doc_id")
    val chain = (2L to 20L).map(i => (i, i - 1)).toDF("d1", "d2")
    Seq[(String, () => Unit)](
      "components" -> (() => Dedup.components(nodes, chain, maxIter = 1)),
      "componentsStar" -> (() => Dedup.componentsStar(nodes, chain, maxIter = 1))
    ).foreach { case (name, run) =>
      val e = intercept[IllegalStateException](run())
      assert(e.getMessage.startsWith(name) &&
        e.getMessage.contains("maxIter = 1") &&
        e.getMessage.contains("after 1 "), e.getMessage)
    }
    // the uncapped default converges on the same chain
    assert(Dedup.componentsStar(nodes, chain).as[(Long, Long)].collect()
      .forall(_._2 == 1L))
  }

  test("image decode is a REAL codec round-trip (javax.imageio)") {
    // the PNG bytes must carry the dimensions/pixels through an actual
    // encoder+decoder, not arithmetic: corrupt bytes must fail
    val bytes = BinaryPipeline.encodePng(42L)
    assert(bytes.take(4).map(_ & 0xff).toSeq == Seq(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt))
    val (fmt, w, h, red) = BinaryPipeline.decodeImageMeta(bytes)
    assert(fmt == "png" && w == 8 + 42 % 32 && h == 8 + (42 * 7) % 32 && red == 42)
    intercept[Exception] {
      BinaryPipeline.decodeImageMeta(Array[Byte](1, 2, 3, 4))
    }
  }

  test("video container: stride sampling decodes only sampled frames, rejects junk") {
    // 6-frame container, stride 2 -> frames 0,2,4 decoded; the decode
    // callback counts invocations to prove unsampled frames are SKIPPED
    // (seek, not decode) — the point of container-aware sampling
    var decoded = 0
    val bytes = BinaryPipeline.encodeVideo(2L, m => BinaryPipeline.encodePng(m.toLong))
    val (n, s, sumW, sumH, sumG) = BinaryPipeline.videoFrameStats(bytes, 2,
      fb => { decoded += 1; BinaryPipeline.decodeImageMeta(fb) })
    assert(n == 6 && s == 3 && decoded == 3)
    // frames m = 2,4,6: w = 8+m%32, h = 8+(7m)%32, gray = m
    assert(sumW == (8 + 2) + (8 + 4) + (8 + 6))
    assert(sumH == (8 + 14) + (8 + 28) + (8 + 42 % 32))
    assert(sumG == 2 + 4 + 6)
    intercept[Exception] {
      BinaryPipeline.videoFrameStats(Array[Byte](1, 2, 3, 4, 5, 6, 7, 8), 2,
        BinaryPipeline.decodeImageMeta)
    }
  }

  test("interleave emits the target mixture in every full batch") {
    import graft.pipeline.CorpusPipeline
    val rows = CorpusPipeline.interleave(docs, 5)
      .as[(Long, String, Long, Long)].collect()
    // full batches carry exactly weight docs per lang: en 3, zh 2, rest 1
    val w = Map("en" -> 3L, "zh" -> 2L, "de" -> 1L, "es" -> 1L, "fr" -> 1L)
    rows.foreach { case (_, lang, n, _) => assert(n == w(lang), s"$lang: $n") }
    // deterministic across runs
    val again = CorpusPipeline.interleave(docs, 5)
      .as[(Long, String, Long, Long)].collect()
    assert(rows.toSeq == again.toSeq)
  }

  test("binary feature extraction is partition-batched and deterministic") {
    val rows = BinaryPipeline.withBlob(docs)
      .select(col("doc_id"), col("blob"))
      .as[(Long, Array[Byte])]
    val feats = BinaryPipeline.extractFeatures(rows).collect().toMap
    assert(feats.size == docs.count())
    val again = BinaryPipeline.extractFeatures(rows).collect().toMap
    assert(feats.keySet == again.keySet)
    assert(feats.forall { case (k, v) =>
      v.length == 4 && java.util.Arrays.equals(v, again(k)) })
    // features reflect content: byte length is the first feature
    val lens = docs.select(col("doc_id"),
      length(encode(concat(lit("IMG0"), col("text")), "UTF-8")))
      .as[(Long, Int)].collect().toMap
    assert(feats.forall { case (k, v) => v(0) == lens(k).toFloat })
  }

  test("span fraction flags a shared 8-gram run, not unique text") {
    graft.expr.VectorExprs.register(spark)
    val shared = "s1 s2 s3 s4 s5 s6 s7 s8" // exactly one 8-gram
    val tail1 = (1 to 12).map(i => s"a$i").mkString(" ")
    val tail2 = (1 to 12).map(i => s"b$i").mkString(" ")
    val uniq = (1 to 20).map(i => s"u$i").mkString(" ")
    val df = Seq(
      (1L, s"$shared $tail1"),
      (2L, s"$shared $tail2"),
      (3L, uniq)).toDF("doc_id", "text")
    val rows = Dedup.spanFraction(df, 8)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // 20 words → 13 distinct 8-grams per doc
    assert(rows(1L)._2 == 13 && rows(2L)._2 == 13 && rows(3L)._2 == 13)
    // only the fully-shared leading gram is duplicated across docs
    assert(rows(1L)._3 == 1 && rows(2L)._3 == 1)
    assert(rows(3L)._3 == 0 && rows(3L)._4 == 0)
    // per-mille = 1 * 1000 div 13
    assert(rows(1L)._4 == 1000 / 13)
  }

  test("url canonicalization folds tracking variants, preserves real params") {
    import graft.pipeline.CorpusPipeline.canonicalizeUrl
    def canon(u: String): String =
      Seq(u).toDF("u").select(canonicalizeUrl(col("u"))).as[String].head()
    // every messy variant of the same page folds to one form
    val expect = "https://site.example.com/Doc/7"
    for (u <- Seq(
      "http://site.example.com/Doc/7",
      "https://www.site.example.com/Doc/7/",
      "https://SITE.example.com/Doc/7#frag",
      "https://site.example.com/Doc/7/?utm_source=feed&utm_ref=9",
      "https://www.SITE.example.com/Doc/7?utm_a=1"))
      assert(canon(u) == expect, u)
    // path case is significant and survives; real params survive with
    // repaired '?' structure; utm in the middle repairs '&' chains
    assert(canon("https://h.io/A/b?utm_x=1&page=2") == "https://h.io/A/b?page=2")
    assert(canon("https://h.io/p?page=2&utm_x=1") == "https://h.io/p?page=2")
    // idempotent: canonicalizing a canonical url is identity
    val once = canon("http://WWW.h.io/p/?utm_s=1#x")
    assert(canon(once) == once)
  }
}
