package graft

import graft.dedup.{Dedup, LshIndex}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = (1 to 60).map(i => s"tok$i").mkString(" ")
  // near-dup: 3 words changed out of 60 -> trigram jaccard well above 0.7
  private val nearDup = ((1 to 60).map(i => if (i % 20 == 0) "CHANGED" + i else s"tok$i")).mkString(" ")
  private val unrelated = (1 to 60).map(i => s"other$i").mkString(" ")

  private def docs = Seq(
    (1L, base, "s1"), (2L, nearDup, "s1"), (3L, unrelated, "s1"),
    (4L, base, "s2") // exact dup of 1
  ).toDF("doc_id", "text", "source")

  test("exact dedup groups identical texts, keeps smallest id") {
    val out = Dedup.exact(docs, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("keep_id") -> r.getAs[Long]("n_dups")).toMap
    assert(out(1L) === 2L) // doc 4 collapsed into doc 1
    assert(out(2L) === 1L && out(3L) === 1L)
  }

  test("bloomGate flags every true duplicate (no false negatives) with bounded false positives") {
    import org.apache.spark.sql.functions._
    val history = (1 to 400).map(i => (i.toLong, s"history doc $i payload"))
      .toDF("doc_id", "text")
    // batch: 100 re-ingested history docs + 300 genuinely new docs
    val batch = ((1 to 100).map(i => (1000L + i, s"history doc $i payload")) ++
      (1 to 300).map(i => (2000L + i, s"fresh doc $i payload")))
      .toDF("doc_id", "text")
    val out = Dedup.bloomGate(history, batch, "doc_id", "text",
      expectedItems = 1L << 12, numBits = 1L << 16)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("maybe_dup")).toMap
    assert(out.size === 400)
    // contract 1: NO false negatives — every re-ingested doc is flagged
    (1 to 100).foreach(i => assert(out(1000L + i), s"missed true dup $i"))
    // contract 2: false positives bounded — 16 bits/item over 400 items
    // keeps the FP rate well under 1%; allow a loose 5% of the fresh set
    val fp = (1 to 300).count(i => out(2000L + i))
    assert(fp <= 15, s"false-positive count $fp out of 300 fresh docs")
    // contract 3: deterministic — OR-merge of partial filters is
    // commutative, so a repartitioned history builds the same filter
    val out2 = Dedup.bloomGate(history.repartition(7), batch, "doc_id", "text",
      expectedItems = 1L << 12, numBits = 1L << 16)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("maybe_dup")).toMap
    assert(out2 === out)
  }

  test("bloomGate on an empty history flags nothing") {
    val history = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val batch = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val out = Dedup.bloomGate(history, batch, "doc_id", "text")
      .collect().map(_.getAs[Boolean]("maybe_dup"))
    assert(out.length === 2 && out.forall(_ == false))
  }

  test("bloomGate: null texts never collide (a null-text history doc flags no null-text batch doc)") {
    val history = Seq((1L, "real doc"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val batch = Seq((10L, "real doc"), (11L, null.asInstanceOf[String]),
      (12L, "fresh")).toDF("doc_id", "text")
    val out = Dedup.bloomGate(history, batch, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("maybe_dup")).toMap
    assert(out(10L) === true)   // true dup still flagged
    assert(out(11L) === false)  // null ≠ null: xxhash64-seed collapse guarded
    assert(out(12L) === false)
  }

  test("dropBoilerplateLines cuts cross-doc lines, keeps within-doc repeats and empty lines") {
    val docs = Seq(
      (1L, "Breaking News\nunique story one\nSubscribe now!"),
      (2L, "breaking news \nunique story two\nSubscribe now!"),
      (3L, "totally original\n\nsubscribe now!"),
      (4L, "repeat me\nrepeat me")
    ).toDF("doc_id", "text")
    val out = Dedup.dropBoilerplateLines(docs, "doc_id", "text", minDocs = 2)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("clean_text"), r.getAs[Long]("n_cut_lines"))).toMap
    // "breaking news" matches across docs 1/2 through lower+trim
    // normalization; "subscribe now!" is in three docs — every
    // instance of both is dropped
    assert(out(1L) === ("unique story one", 2L))
    assert(out(2L) === ("unique story two", 2L))
    // doc 3's empty line is structure: never counted, never dropped
    assert(out(3L) === ("totally original\n", 1L))
    // doc 4 repeats a line WITHIN one doc: document frequency is over
    // distinct docs, so it stays — repetition is text_repetition's job
    assert(out(4L) === ("repeat me\nrepeat me", 0L))
  }

  test("pruneNearDupsLsh: drops are a subset of the exact chain's (theorem), equal on an in-recall fixture") {
    import org.apache.spark.sql.functions._
    // 3 exact copies + a near-dup (one word changed in 60 → j >> 0.7)
    // + two unrelated docs, one block
    val nearDup99 = (1 to 60)
      .map(i => if (i == 30) "CHANGED" else s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base, "s1"), (5L, base, "s1"), (9L, base, "s1"),
      (2L, nearDup99, "s1"),
      (3L, unrelated, "s1"), (7L, (1 to 60).map(i => s"zzz$i").mkString(" "), "s1")
    ).toDF("doc_id", "text", "source")
    def keptIds(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val all = docs.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val keptExact = keptIds(Dedup.pruneNearDups(docs, "doc_id", "text",
      "source", shingleN = 3, threshold = 0.7))
    val keptLsh = keptIds(Dedup.pruneNearDupsLsh(docs, "doc_id", "text",
      shingleN = 3, threshold = 0.7))
    // subset theorem: every LSH drop is an exact-chain drop
    assert((all -- keptLsh).subsetOf(all -- keptExact),
      s"LSH dropped outside the exact chain: ${(all -- keptLsh) -- (all -- keptExact)}")
    // on this fixture every duplicate pair is in-recall (exact copies
    // share all bands; the near-dup's jaccard is far above 0.7): the
    // two prunes agree exactly — keep 1 (cluster min), 3, 7
    assert(keptLsh === keptExact)
    assert(keptLsh === Set(1L, 3L, 7L))
  }

  test("minhash LSH finds planted near-dups and exact dups, not unrelated docs") {
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near-dup found
    assert(pairs.contains((1L, 4L))) // exact dup found with jaccard 1.0
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated never paired
  }

  test("MinHashSignature expression matches the explode+min-aggregate formulation bit-for-bit") {
    import org.apache.spark.sql.functions._
    val k = 16
    val fixture = docs.select(col("doc_id"), col("text"))
      .union(Seq((9L, "one two"), (10L, "single"), (11L, "")).toDF("doc_id", "text"))
    // aggregate formulation (the pre-r3 path)
    val exploded = Dedup.shingleRows(fixture, "doc_id", "text", 3)
    val minCols = (0 until k).map(i => min(xxhash64(lit(i), col("s"))).as(s"h$i"))
    val aggSig = exploded.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
    // expression formulation
    val exprSig = fixture.select(col("doc_id"),
      org.apache.spark.sql.graft.TextExpressions
        .minhashSignature(col("text"), 3, k).as("sig"))
    val joined = aggSig.join(exprSig, "doc_id").collect()
    assert(joined.length === fixture.count())
    joined.foreach { r =>
      val sig = r.getAs[scala.collection.Seq[Long]]("sig")
      (0 until k).foreach { i =>
        assert(sig(i) === r.getAs[Long](s"h$i"),
          s"doc ${r.getAs[Long]("doc_id")} position $i")
      }
    }
    // null text -> null signature; works in both codegen and interpreted eval
    val withNull = Seq((1L, null: String)).toDF("doc_id", "text")
    assert(withNull.select(org.apache.spark.sql.graft.TextExpressions
      .minhashSignature(col("text"), 3, k)).head.isNullAt(0))
    val expr = org.apache.spark.sql.graft.MinHashSignature(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString("a b c d"),
        org.apache.spark.sql.types.StringType), 3, 4)
    val interp = expr.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()
    assert(interp.length === 4)
  }

  test("SimHashBands expression matches the explode+sum-aggregate formulation bit-for-bit") {
    import org.apache.spark.sql.functions._
    val fixture = docs.select(col("doc_id"), col("text"))
      .union(Seq((9L, "one two"), (10L, "")).toDF("doc_id", "text"))
    // aggregate formulation (the pre-r3 path)
    val ex = fixture.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), xxhash64(col("w")).as("h"))
    val sumCols = (0 until 64).map(j =>
      sum(shiftright(col("h"), j).bitwiseAND(lit(1L)) * 2L - 1L).as(s"c$j"))
    val counts = ex.groupBy(col("doc_id")).agg(sumCols.head, sumCols.tail: _*)
    val aggBands = counts.select(col("doc_id") +: (0 until 4).map { b =>
      (0 until 16).map(j =>
        when(col(s"c${b * 16 + j}") > 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _).as(s"ab$b")
    }: _*)
    val joined = Dedup.simhashBands(fixture, "doc_id", "text")
      .join(aggBands, "doc_id").collect()
    assert(joined.length === fixture.count())
    joined.foreach { r =>
      (0 until 4).foreach(b =>
        assert(r.getAs[Long](s"band$b") === r.getAs[Long](s"ab$b"),
          s"doc ${r.getAs[Long]("doc_id")} band $b"))
    }
  }

  test("minhash bucket cap drops degenerate boilerplate buckets, keeps rare-band pairs") {
    // 6 copies of the same boilerplate put 6 docs in EVERY (band, hash)
    // bucket; the near-dup pair (101, 102) lives in buckets of size <= 3
    val boiler = (1 to 6).map(i => (i.toLong, base, "s1"))
    val pair = Seq((101L, nearDup, "s1"),
      (102L, nearDup.replace("tok7", "tok7x"), "s1"))
    val corpus = (boiler ++ pair).toDF("doc_id", "text", "source")
    val capped = Dedup.minhashLsh(corpus, "doc_id", "text",
        threshold = 0.5, maxBucketSize = 3)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(capped.contains((101L, 102L))) // rare-band pair survives
    // over-cap buckets degrade to STAR candidates around hash-sampled
    // anchors: every boilerplate doc stays connected for clustering
    // (reachable through an anchor), with fewer than the n² all-pairs
    val boilerPairs = capped.filter(p => p._1 <= 6L && p._2 <= 6L)
    assert(boilerPairs.flatMap(p => Seq(p._1, p._2)).toSet === (1L to 6L).toSet)
    assert(boilerPairs.size < 15) // C(6,2) = 15 would be uncapped all-pairs
    // the audit companion reports exactly which buckets were degraded
    val dropped = Dedup.oversizedMinhashBuckets(corpus, "doc_id", "text",
      maxBucketSize = 3).collect()
    assert(dropped.nonEmpty && dropped.forall(_.getAs[Long]("bucket_size") >= 6L))
    // with the default cap the boilerplate still pairs (no behavior change)
    val uncapped = Dedup.minhashLsh(corpus, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(uncapped.contains((1L, 2L)))
  }

  test("cappedBucketPairs stars over-cap buckets around K anchors, rescuing non-anchor clusters") {
    // one giant bucket of 40 members (cap 10): pairs must degrade to
    // anchor stars, not C(40,2) = 780 all-pairs
    val banded = (1L to 40L).map(i => (i, 0, 0L)).toDF("doc_id", "band", "bh")
    val pairs = Dedup.cappedBucketPairs(banded, Seq("band", "bh"), maxBucketSize = 10)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    // anchors pair with every other member (degree 39); non-anchors only
    // with the 4 anchors — recover the anchor set from the degrees
    val degree = pairs.toSeq.flatMap(p => Seq(p._1, p._2))
      .groupBy(identity).map { case (id, xs) => id -> xs.size }
    val anchors = degree.filter(_._2 == 39).keySet
    assert(anchors.size === 4, s"expected 4 anchors, got $anchors")
    // the multi-cluster rescue property: EVERY member is a candidate
    // with EVERY anchor, so any cluster containing >=1 anchor keeps its
    // (verifiable) in-cluster pairs — not just the bucket-minimum's
    val members = (1L to 40L).toSet
    assert(anchors.forall(a => (members - a).forall(m =>
      pairs.contains((math.min(a, m), math.max(a, m))))))
    // bounded: K*(n-K) + C(K,2) = 150, far under all-pairs 780
    assert(pairs.size === 4 * 36 + 6)
  }

  test("driver and distributed connectedComponents agree on chains, cycles, forests") {
    def labels(e: org.apache.spark.sql.DataFrame) = {
      def run(bound: Long) = Dedup.connectedComponents(e, driverEdgeBound = bound)
        .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("component")).toMap
      val driver = run(1000000L) // union-find on the driver
      val distributed = run(0L)  // pointer-doubling loop
      assert(driver === distributed)
      driver
    }
    // long chain — the high-diameter case
    val chain = (1L until 30L).map(i => (i, i + 1)).toDF("src", "dst")
    assert(labels(chain).values.toSet === Set(1L))
    // cycle + cross edge + separate pair (the pointer-doubling fixture)
    val mixed = Seq((2L, 1L), (2L, 3L), (3L, 4L), (4L, 2L), (4L, 5L), (11L, 10L))
      .toDF("src", "dst")
    assert(labels(mixed) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 1L, 10L -> 10L, 11L -> 10L))
    // power-law-ish forest: every id links to id/8 (the dedup_clusters
    // oracle shape)
    val forest = (8L to 200L).map(i => (i, i / 8L)).toDF("src", "dst")
    val lf = labels(forest)
    assert(lf.values.toSet === (1L to 7L).toSet) // 7 trees rooted at 1..7
    assert((8L to 200L).forall(i => lf(i) === lf(i / 8L)))
  }

  test("connectedComponents fails loudly instead of returning partial labels") {
    // force the distributed loop (the driver cutoff has no iteration
    // budget to exhaust — union-find always completes)
    val edges = Seq((2L, 1L), (3L, 2L)).toDF("src", "dst")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(edges, maxIter = 0, driverEdgeBound = 0)
    }
  }

  test("connectedComponents labels every node with its cluster minimum; dropIds keeps one") {
    // two components: {1,2,3,4,5} (chain + cycle + cross edge) and {10,11}
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (4L, 2L), (4L, 5L), (11L, 10L))
      .toDF("src", "dst")
    val cc = Dedup.connectedComponents(edges).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("component")).toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L))
    val drops = Dedup.dropIdsFromPairs(edges, "src", "dst").collect()
      .map(_.getAs[Long]("drop_id")).toSet
    assert(drops === Set(2L, 3L, 4L, 5L, 11L)) // cluster minima 1 and 10 survive
  }

  test("simhash: identical docs at hamming 0, near-dups close, unrelated far") {
    val out = Dedup.simhashNearDup(docs, "doc_id", "text", maxHamming = 10)
      .collect().map(r => ((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")),
        r.getAs[Long]("hamming"))).toMap
    assert(out((1L, 4L)) === 0L)
    assert(out.contains((1L, 2L)))
    assert(!out.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhashNearDup block-join routing equals the brute-force band-sharing pair scan") {
    import org.apache.spark.sql.functions._
    // 40 docs with overlapping vocab so several band collisions and
    // several in-radius pairs arise; exercises the exactly-once
    // first-matching-block dedup (pairs sharing >1 band must surface
    // exactly once).
    val rows = (1 to 40).map { i =>
      val words = (1 to 50).map(j => if ((i + j) % 7 == 0) s"v${i % 5}_$j" else s"w$j")
      (i.toLong, words.mkString(" "))
    }
    val df = rows.toDF("doc_id", "text")
    val out = Dedup.simhashNearDup(df, "doc_id", "text", maxHamming = 12)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Long]("hamming")))
    // exactly-once: no pair may repeat
    assert(out.map(_._1).distinct.length === out.length)
    // brute force from the same band projection: any shared band AND
    // total hamming <= 12
    val sb = Dedup.simhashBands(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (0 until 4).map(b => r.getLong(1 + b))).toMap
    val brute = (for {
      a <- sb.keys; b <- sb.keys if a < b
      shares = (0 until 4).exists(k => sb(a)(k) == sb(b)(k))
      ham = (0 until 4).map(k => java.lang.Long.bitCount(sb(a)(k) ^ sb(b)(k))).sum
      if shares && ham <= 12
    } yield ((a, b), ham.toLong)).toMap
    assert(out.toMap === brute)
    assert(brute.nonEmpty, "fixture must produce at least one in-radius pair")
  }

  test("capped block join: over-cap smallest block masked, pair still surfaces exactly once via a surviving block") {
    import org.apache.spark.sql.functions._
    // synthetic fingerprint words, nBlocks = 4 (16-bit blocks):
    // band0 = 7 for ALL six docs -> bucket (blk 0, 7) has 6 members,
    // over a cap of 3, so block 0 is masked for everyone. Docs 1 and 2
    // also share band1 = 5 (bucket size 2, under cap) -> the pair must
    // survive via block 1 — the smallest MATCHING block (0) sits in a
    // dropped bucket, the r10 review-pass trap — and surface exactly
    // once. Docs 3..6 share only the capped block 0 with anyone.
    def words(b0: Long, b1: Long, b2: Long, b3: Long) =
      (b0 + b1 * 65536L, b2 + b3 * 65536L)
    val rows = Seq(
      (1L, words(7, 5, 1, 1)), (2L, words(7, 5, 3, 1))) ++
      (3 to 6).map(i => (i.toLong, words(7, 100L + i, 200L + i, 300L + i)))
    val fp = rows.map { case (id, (lo, hi)) => (id, lo, hi) }
      .toDF("doc_id", "_lo", "_hi")
    val capped = Dedup.nearDupFromWords(fp, 4, 64, maxBucketSize = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("hamming")))
    assert(capped.toSeq === Seq((1L, 2L, 1L)))
    // uncapped: every pair shares block 0, all 15 pairs emitted once
    val uncapped = Dedup.nearDupFromWords(fp, 4, 64, Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(uncapped.length === 15)
    assert(uncapped.distinct.length === 15)
  }

  test("oversizedSimhashBuckets reports exactly the buckets a cap would drop, with pair mass") {
    import org.apache.spark.sql.functions._
    // 8 identical docs -> every band bucket holds all 8; cap of 5 drops
    // all four (blk, bv) buckets, each carrying 8*7/2 = 28 pairs
    val df = (1 to 8).map(i => (i.toLong, "same text for every doc"))
      .toDF("doc_id", "text")
    val audit = Dedup.oversizedSimhashBuckets(df, "doc_id", "text", maxBucketSize = 5)
      .collect()
    assert(audit.length === 4)
    assert(audit.forall(_.getAs[Long]("bucket_size") === 8L))
    assert(audit.forall(_.getAs[Long]("dropped_pairs") === 28L))
    // and with the cap above the bucket size the audit is empty
    assert(Dedup.oversizedSimhashBuckets(df, "doc_id", "text",
      maxBucketSize = 8).isEmpty)
  }

  test("blockedJaccard boilerplate cap: universal shingles leave the universe, real dups still pair") {
    import org.apache.spark.sql.functions._
    // 10 docs in one block; all carry the same boilerplate tail, only
    // docs 1/2 share real content. Trigram universe: with the tail in,
    // every doc pair shares the tail's shingles.
    val boiler = (1 to 12).map(i => s"bp$i").mkString(" ")
    val mk = (body: String) => s"$body $boiler"
    val rows = Seq(
      (1L, mk((1 to 30).map(i => s"tok$i").mkString(" "))),
      (2L, mk((1 to 30).map(i => if (i == 15) "X" else s"tok$i").mkString(" ")))
    ) ++ (3 to 10).map(i => (i.toLong, mk((1 to 30).map(j => s"w${i}_$j").mkString(" "))))
    val df = rows.toDF("doc_id", "text").withColumn("source", lit("s"))
    // uncapped: the shared boilerplate inflates every pairwise
    // intersection, but 12 shared trigram-ish shingles over ~40-token
    // docs stays under the 0.3 threshold for unrelated pairs — the
    // COST is the candidate mass, which this fixture is too small to
    // show; the capped form must still find the real pair
    val capped = Dedup.blockedJaccard(df, "doc_id", "text", "source",
      shingleN = 3, threshold = 0.3, maxShingleDocFrac = Some(0.5))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((1L, 2L)))
    // and the capped Jaccard of the real pair is computed over the
    // RARE universe only: 1 vs 2 differ in one body token, boilerplate
    // contributes nothing to numerator or denominator
    val j = Dedup.blockedJaccard(df, "doc_id", "text", "source",
      shingleN = 3, threshold = 0.3, maxShingleDocFrac = Some(0.5))
      .filter(col("doc_a") === 1L).select("jaccard").head().getDouble(0)
    val jUncapped = Dedup.blockedJaccard(df, "doc_id", "text", "source",
      shingleN = 3, threshold = 0.3)
      .filter(col("doc_a") === 1L && col("doc_b") === 2L)
      .select("jaccard").head().getDouble(0)
    // removing shared-by-all shingles from both sets LOWERS jaccard
    // for this pair (the removed shingles were all shared)
    assert(j < jUncapped)
    // docs whose every shingle is boilerplate pair with nothing in the
    // jaccard universe — but 11/12 are CONTENT-IDENTICAL, and since the
    // r13 class-collapse the prune's contract is that exact-duplicate
    // class members always drop (jaccard 1.0 by definition; the df-cap
    // is a candidate-mass valve, not a shield for identical copies):
    // 12 collapses into 11, and 11 (the representative, empty rare
    // universe) survives unpaired
    val allBp = df.union(Seq((11L, boiler, "s"), (12L, boiler, "s"))
      .toDF("doc_id", "text", "source"))
    val pruned = Dedup.pruneNearDups(allBp, "doc_id", "text", "source",
      shingleN = 3, threshold = 0.3, maxShingleDocFrac = Some(0.5))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(pruned.contains(11L) && !pruned.contains(12L))
    assert(!pruned.contains(2L)) // real near-dup still collapses to doc 1
    assert(pruned.contains(1L))
  }

  test("hammingNearDup equals the driver-side brute-force pair scan (pigeonhole is lossless)") {
    import org.apache.spark.sql.functions._
    // dense corpus over a small shared vocab: fingerprints crowd the
    // Hamming space, so losslessness is exercised at every radius (the
    // sf0.01 corpus has 1597 pairs at r=3 — this fixture is the same
    // regime in miniature), plus an exact twin and a disjoint-vocab doc
    val texts = (0 until 40).map { i =>
      (0 until 50).map(j => s"w${(i * 7 + j * 3) % 25}").mkString(" ")
    } :+ (0 until 50).map(j => s"w${(0 * 7 + j * 3) % 25}").mkString(" ") :+
      (1 to 50).map(j => s"zz$j").mkString(" ")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val fps = df.select(col("doc_id"), org.apache.spark.sql.graft
        .TextExpressions.portableSimhash64(col("text")).as("f"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).sortBy(_._1)
    def ham(a: Seq[Long], b: Seq[Long]): Long =
      java.lang.Long.bitCount(a(0) ^ b(0)) + java.lang.Long.bitCount(a(1) ^ b(1))
    for (r <- Seq(1, 3, 7)) {
      val expected = (for {
        i <- fps.indices; j <- (i + 1) until fps.length
        d = ham(fps(i)._2, fps(j)._2) if d <= r
      } yield (fps(i)._1, fps(j)._1, d)).toSet
      val got = Dedup.hammingNearDup(df, "doc_id", "text", maxHamming = r)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
      assert(got === expected, s"radius $r")
    }
    // the exact twin of doc 0 sits at distance 0
    val r0 = Dedup.hammingNearDup(df, "doc_id", "text", maxHamming = 1)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(r0.contains((0L, 40L, 0L)))
  }

  test("hammingNearDup capped mode: over-cap classes excluded, surviving class pairs expand") {
    import org.apache.spark.sql.functions._
    // r11 class-collapse contract: the cap bounds both quadratic
    // dimensions — (blk, bv) buckets count CLASSES (the block-mask
    // path is pinned separately on synthetic words), and classes with
    // more than cap MEMBERS are excluded from expansion (identical-doc
    // floods are exact dedup's job, the pre-r11 capped behavior).
    // base x10 -> one class of size 10 > cap 5: no within pairs, no
    // cross pairs; the two singleton variants still pair normally.
    val base = (0 until 40).map(k => s"base$k").mkString(" ")
    val rows = (0 until 10).map(i => (i.toLong, base)) ++
      Seq((100L, s"$base xa6 xb6"), (101L, s"$base xa67 xb67"))
    val df = rows.toDF("doc_id", "text")
    val fps = df.select(col("doc_id"), org.apache.spark.sql.graft
        .TextExpressions.portableSimhash64(col("text")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).sortBy(_._1)
    def ham(a: Seq[Long], b: Seq[Long]): Long =
      java.lang.Long.bitCount(a(0) ^ b(0)) + java.lang.Long.bitCount(a(1) ^ b(1))
    // fixture sanity: the variants are within radius of the base class,
    // so ONLY the class-size rule (not distance) removes those pairs
    val fBase = fps.find(_._1 == 0L).get._2
    val fx = fps.find(_._1 == 100L).get._2
    val fy = fps.find(_._1 == 101L).get._2
    assert(ham(fBase, fx) <= 3 && ham(fx, fy) <= 3)
    val got = Dedup.hammingNearDup(df, "doc_id", "text", maxHamming = 3,
        maxBucketSize = 5)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    assert(got === Set((100L, 101L, ham(fx, fy))))
    // uncapped: the full brute-force pair set, identical pairs included
    val uncapped = Dedup.hammingNearDup(df, "doc_id", "text", maxHamming = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    val brute = (for {
      i <- fps.indices; j <- (i + 1) until fps.length
      d = ham(fps(i)._2, fps(j)._2) if d <= 3
    } yield (fps(i)._1, fps(j)._1, d)).toSet
    assert(uncapped === brute)
    assert(uncapped.exists(p => p._1 < 10L && p._2 < 10L)) // identical pairs present
    // r12 decoupled knobs (ADVICE r11): maxClassSize alone drives the
    // class exclusion — an explicit class cap of 5 with the block-
    // bucket cap wide open states the same set as the single-knob run,
    // and an explicit wide-open class cap with bucket cap 5 keeps the
    // big class (only 3 distinct-fingerprint classes, so <= 3 per
    // bucket — no bucket drops either: full brute set)
    val classOnly = Dedup.hammingNearDup(df, "doc_id", "text", maxHamming = 3,
        maxClassSize = Some(5))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    assert(classOnly === Set((100L, 101L, ham(fx, fy))))
    val bucketOnly = Dedup.hammingNearDup(df, "doc_id", "text", maxHamming = 3,
        maxBucketSize = 5, maxClassSize = Some(Int.MaxValue))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    assert(bucketOnly === brute)
  }

  test("PortableSimHash64: set semantics (order/repeats don't matter), null text, word parity") {
    import org.apache.spark.sql.functions._
    val df = Seq(
      (1L, "alpha beta gamma"),
      (2L, "gamma beta alpha"),          // permutation: same token SET
      (3L, "alpha beta gamma alpha beta"), // repeats: same token SET
      (4L, "alpha beta delta"),
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), org.apache.spark.sql.graft
        .TextExpressions.portableSimhash64(col("text")).as("f"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Long](1))).toMap
    assert(out(1L) === out(2L) && out(1L) === out(3L))
    assert(out(4L) !== out(1L))
    assert(out(5L) === null)
    // words stay in [0, 2^32): no sign-extension hazards downstream
    out.values.filter(_ != null).foreach { f =>
      assert(f.forall(w => w >= 0L && w < (1L << 32)))
    }
  }

  test("blocked jaccard verifies only within the blocking key") {
    val pairs = Dedup.blockedJaccard(docs, "doc_id", "text", "source", threshold = 0.4)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs === Set((1L, 2L))) // 1-4 identical but cross-source: blocked out
  }

  test("class-collapsed blockedJaccard is lossless vs the plain form (uncapped); capped form expands classes") {
    // saturated vocab (quadratic candidate regime) + planted
    // identical-text classes of size 2 and 3 + a null-text row: the
    // exact shapes the collapse reroutes around the verify join
    val vocab = Array("a", "b", "c", "d", "e", "f", "g", "h")
    def txt(seed: Int, len: Int): String = {
      val rnd = new scala.util.Random(seed)
      Array.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    val corpus = ((0 until 60).map { i =>
      (i.toLong, txt(i, 12 + i % 25), s"src${i % 3}")
    } ++ Seq(
      (900L, txt(3, 12 + 3 % 25), "src0"),  // class {3, 900, 903}
      (903L, txt(3, 12 + 3 % 25), "src0"),
      (901L, txt(5, 12 + 5 % 25), "src2"),  // class {5, 901}
      (902L, null.asInstanceOf[String], "src1")
    )).toDF("doc_id", "text", "source")
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        math.round(r.getAs[Double]("jaccard") * 1e9))
    }.toSet
    for (t <- Seq(0.25, 0.5, 1.0)) {
      val classed = canon(Dedup.blockedJaccardClassed(corpus, "doc_id",
        "text", "source", shingleN = 3, threshold = t))
      val naive = canon(Dedup.blockedJaccard(corpus, "doc_id", "text",
        "source", shingleN = 3, threshold = t))
      assert(classed === naive, s"class collapse lost/invented pairs at t=$t")
      // the planted cliques are in (doc 3's class shares all shingles)
      assert(classed.contains((3L, 900L, 1000000000L)) &&
        classed.contains((3L, 903L, 1000000000L)) &&
        classed.contains((900L, 903L, 1000000000L)))
    }
    // capped: intra-class pairs survive at jaccard exactly 1.0 (the
    // distinct-contents df basis — identical copies are one content,
    // so they cannot saturate their own shingles out of the universe),
    // and rep-level pairs agree with blockedJaccard over the reps
    val capped = canon(Dedup.blockedJaccardClassed(corpus, "doc_id", "text",
      "source", shingleN = 3, threshold = 0.25,
      maxShingleDocFrac = Some(0.5)))
    assert(capped.contains((3L, 900L, 1000000000L)) &&
      capped.contains((900L, 903L, 1000000000L)) &&
      capped.contains((5L, 901L, 1000000000L)))
    val reps = corpus.filter("doc_id NOT IN (900, 901, 903)")
    val repPairs = canon(Dedup.blockedJaccard(reps, "doc_id", "text",
      "source", shingleN = 3, threshold = 0.25,
      maxShingleDocFrac = Some(0.5)))
    val cappedRepLevel = capped.filter { case (a, b, _) =>
      a < 900L && b < 900L }
    assert(cappedRepLevel === repPairs,
      "rep-level pairs must match blockedJaccard over representatives")
  }

  test("connectedComponents driver cutoff matches the distributed loop") {
    // random multigraphs incl. self-loops and singleton-inducing loops:
    // the cutoff (default bound, tiny graph -> driver union-find) must
    // label identically to the forced distributed pointer-doubling loop
    for (seed <- Seq(3, 17)) {
      val rnd = new scala.util.Random(seed)
      val edges = (0 until 400).map(_ =>
        (rnd.nextInt(250).toLong, rnd.nextInt(250).toLong))
        .toDF("src", "dst")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val driver = canon(Dedup.connectedComponents(edges))
      val dist = canon(Dedup.connectedComponents(edges, driverEdgeBound = 0))
      assert(driver === dist, s"cutoff diverged at seed $seed")
      assert(driver.nonEmpty)
    }
  }

  test("connectedComponents drops null-endpoint edges identically on both paths") {
    // r15 null contract (ADVICE r14): an edge with a NULL endpoint is
    // ignored entirely — a null id is not a node — and the driver
    // cutoff and the distributed loop must agree on that
    val rows: Seq[(java.lang.Long, java.lang.Long)] = Seq(
      (1L: java.lang.Long, 2L: java.lang.Long),
      (2L: java.lang.Long, 3L: java.lang.Long),
      (4L: java.lang.Long, null),
      (null, 5L: java.lang.Long),
      (6L: java.lang.Long, 6L: java.lang.Long))
    val edges = rows.toDF("src", "dst")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = Set((1L, 1L), (2L, 1L), (3L, 1L), (6L, 6L))
    assert(canon(Dedup.connectedComponents(edges)) === expected)
    assert(canon(Dedup.connectedComponents(edges, driverEdgeBound = 0)) ===
      expected)
  }

  test("jaccard column computes exact set jaccard") {
    import org.apache.spark.sql.functions._
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
    val j = df.select(Dedup.jaccard(col("x"), col("y")).as("j")).head.getDouble(0)
    assert(j === 0.5) // |{b,c}| / |{a,b,c,d}|
  }

  test("ShingleHashes matches transform(shingles, xxhash64) bit-for-bit; strict mode drops short docs") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "x y"), (3L, "solo"),
      (4L, "a b a b a b"), // duplicate shingles exercise the distinct path
      (5L, "")).toDF("doc_id", "text")
    val bad = docs.select(
        org.apache.spark.sql.graft.TextExpressions
          .shingleHashes(col("text"), 3).as("expr"),
        transform(Dedup.shingles(col("text"), 3), s => xxhash64(s)).as("ho"))
      .filter(not(col("expr") === col("ho")))
    assert(bad.isEmpty, bad.collect().mkString("\n"))
    // strict mode: exact n-gram instances, no whole-text pad, with
    // multiplicity (doc 4: "a b","b a","a b","b a","a b" = 5 grams)
    val strict = docs.select(col("doc_id"),
        size(org.apache.spark.sql.graft.TextExpressions
          .shingleHashes(col("text"), 2, distinct = false, padShort = false))
          .as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(strict === Map(1L -> 5, 2L -> 1, 3L -> 0, 4L -> 5, 5L -> 0))
    // interpreted eval path (no codegen) agrees
    val ie = org.apache.spark.sql.graft.ShingleHashes(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString("a b c d"),
        org.apache.spark.sql.types.StringType), 3, true, true)
    assert(ie.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray().length === 2)
  }

  test("PortableSimHash64 parity with a SQL re-derivation on randomized texts (incl. unicode)") {
    import org.apache.spark.sql.functions._
    // deterministic fuzz incl. multi-byte codepoints (md5 runs over
    // UTF-8 bytes — a unicode token must hash identically whether the
    // expression or the SQL md5() computes it), empty-word artifacts,
    // and single-token docs
    val rnd = new scala.util.Random(7)
    val vocab = Seq("alpha", "beta", "Ω", "çédille", "税", "x9",
      "", "mixedÇase")
    val texts = (1L to 150L).map { i =>
      val len = rnd.nextInt(25)
      (i, (0 until len).map(_ => vocab(rnd.nextInt(vocab.length)))
        .mkString(" "))
    } ++ Seq((900L, ""), (901L, "Ω Ω Ω"), (902L, "a"))
    val df = texts.toDF("doc_id", "text")
    // independent formulation via Spark SQL built-ins: distinct
    // tokens -> md5 hex -> conv() the two 8-char halves -> per-bit
    // +-1 sums -> threshold — the same arithmetic the DuckDB oracles
    // state, built from entirely different primitives
    val toks = array_distinct(split(col("text"), " ", -1))
    def word(off: Int) = transform(toks,
      t => conv(substring(md5(t), off, 8), 16, 10).cast("long"))
    // bit j of w as floor(w / 2^j) % 2 (division by a power of two is
    // exact in IEEE doubles; shiftright's Column API wants Int shifts)
    def bitOf(w: org.apache.spark.sql.Column,
              b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (w.cast("double") / pow(lit(2.0), b)).cast("long") % 2
    val counts = aggregate(
      arrays_zip(word(1).as("w1"), word(9).as("w2")),
      array_repeat(lit(0L), 64),
      (acc, e) => zip_with(acc,
        transform(sequence(lit(0), lit(63)), b =>
          when(b < 32, bitOf(e.getField("w1"), b))
            .otherwise(bitOf(e.getField("w2"), b - 32)) * 2 - 1),
        (a, x) => a + x))
    def packed(lohalf: Boolean) = aggregate(
      sequence(lit(0), lit(31)),
      lit(0L),
      (acc, j) => acc + when(
        element_at(counts, (j + (if (lohalf) 1 else 33)).cast("int")) > 0,
        pow(lit(2.0), j).cast("long")).otherwise(0L))
    val bad = df.select(col("doc_id"),
        org.apache.spark.sql.graft.TextExpressions
          .portableSimhash64(col("text")).as("expr"),
        array(packed(lohalf = true), packed(lohalf = false)).as("sql"))
      .filter(not(col("expr") === col("sql")))
    assert(bad.isEmpty,
      s"fingerprint diverges: ${bad.collect().take(3).mkString("\n")}")
  }

  test("ShingleHashes parity with the interpreted form holds on randomized texts") {
    import org.apache.spark.sql.functions._
    // deterministic fuzz: tiny vocab (forces duplicate shingles, the
    // distinct path), lengths spanning empty/short/long, plus edge
    // strings with empty-word artifacts from doubled/leading spaces
    val rnd = new scala.util.Random(42)
    val texts = (1L to 200L).map { i =>
      val len = rnd.nextInt(30)
      (i, (0 until len).map(_ => s"w${rnd.nextInt(8)}").mkString(" "))
    } ++ Seq((900L, ""), (901L, "  leading and  doubled  spaces "),
      (902L, "one"), (903L, "a b"))
    val df = texts.toDF("doc_id", "text")
    Seq(2, 3, 5).foreach { n =>
      val bad = df.select(col("doc_id"),
          org.apache.spark.sql.graft.TextExpressions
            .shingleHashes(col("text"), n).as("expr"),
          transform(Dedup.shingles(col("text"), n), s => xxhash64(s)).as("ho"))
        .filter(not(col("expr") === col("ho")))
      assert(bad.isEmpty,
        s"n=$n diverges: ${bad.collect().take(3).mkString("\n")}")
    }
  }

  test("ArrayLongAnyInSet: codegen and interpreted agree; null array yields null") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val set = Set(42L, 7L)
    val df = Seq(
      (1L, Seq(1L, 2L, 42L)),   // hit on the last element
      (2L, Seq(1L, 2L, 3L)),    // miss
      (3L, Seq.empty[Long]))    // empty -> false
      .toDF("id", "arr")
    val got = df.select(col("id"), org.apache.spark.sql.graft.TextExpressions
        .arrayAnyInSet(col("arr"), set).as("hit"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got === Map(1L -> true, 2L -> false, 3L -> false))
    // null array propagates null (the stream gate coalesces it to keep)
    val nulled = df.select(org.apache.spark.sql.graft.TextExpressions
      .arrayAnyInSet(lit(null).cast(ArrayType(LongType)), set)).head
    assert(nulled.isNullAt(0))
    // interpreted eval
    val hit = org.apache.spark.sql.graft.ArrayLongAnyInSet(
      Literal.create(Seq(5L, 7L), ArrayType(LongType)),
      org.apache.spark.sql.graft.LongMembership(set))
    assert(hit.eval(null) === true)
    val miss = org.apache.spark.sql.graft.ArrayLongAnyInSet(
      Literal.create(Seq(5L), ArrayType(LongType)),
      org.apache.spark.sql.graft.LongMembership(set))
    assert(miss.eval(null) === false)
  }

  test("ArrayLongCountInSet: codegen and interpreted agree; null array yields null") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val set = Set(42L, 7L)
    val df = Seq(
      (1L, Seq(42L, 2L, 42L, 7L)), // duplicates count per ELEMENT: 3
      (2L, Seq(1L, 2L, 3L)),       // 0
      (3L, Seq.empty[Long]))       // empty -> 0
      .toDF("id", "arr")
    val got = df.select(col("id"), org.apache.spark.sql.graft.TextExpressions
        .arrayCountInSet(col("arr"), set).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(1L -> 3, 2L -> 0, 3L -> 0))
    val nulled = df.select(org.apache.spark.sql.graft.TextExpressions
      .arrayCountInSet(lit(null).cast(ArrayType(LongType)), set)).head
    assert(nulled.isNullAt(0))
    val three = org.apache.spark.sql.graft.ArrayLongCountInSet(
      Literal.create(Seq(7L, 5L, 42L), ArrayType(LongType)),
      org.apache.spark.sql.graft.LongMembership(set))
    assert(three.eval(null) === 2)
  }

  test("contaminationFraction scores every doc and agrees with contaminatedIds") {
    import org.apache.spark.sql.functions._
    val bench = docs.filter(col("doc_id") === 1L)
    val frac = Dedup.contaminationFraction(docs, "doc_id", "text", bench, "text",
        shingleN = 5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_overlap"),
          r.getAs[Double]("contam_frac")))).toMap
    // every non-null-text doc is scored, contaminated or not
    assert(frac.keySet === Set(1L, 2L, 3L, 4L))
    // the bench doc and its exact dup overlap on every distinct 5-gram
    assert(frac(1L)._1 === frac(1L)._2 && frac(1L)._3 === 1.0)
    assert(frac(4L)._1 === frac(4L)._2 && frac(4L)._3 === 1.0)
    // the unrelated doc shares nothing
    assert(frac(3L)._2 === 0L && frac(3L)._3 === 0.0)
    // frac is exactly overlap/grams
    frac.values.foreach { case (n, o, f) => assert(f === o.toDouble / n) }
    // the boolean gate and the score agree on overlap counts
    val gate = Dedup.contaminatedIds(docs, "doc_id", "text", bench, "text",
        shingleN = 5, minOverlap = 1)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_overlap")).toMap
    gate.foreach { case (id, o) => assert(frac(id)._2 === o, s"doc $id") }
    assert(frac.filter(_._2._2 > 0).keySet === gate.keySet)
  }

  // shared fixture for the duplicated-window reports: 3-token windows,
  // "one two three" in docs 1/2/3 (sources A,B,C), "two three four" in 1/3
  private def windowDocs = Seq(
    (1L, "one two three four", "A"),
    (2L, "one two three five", "B"),
    (3L, "one two three four", "C"),
    (4L, "nothing shared here at all", "A"))
    .toDF("doc_id", "text", "source")

  test("sourceOverlap counts distinct shared duplicated windows per source pair") {
    val got = Dedup.sourceOverlap(windowDocs, "doc_id", "text", "source",
        windowTokens = 3, minDocs = 2)
      .collect().map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) ->
        r.getAs[Long]("n_shared")).toMap
    assert(got === Map(("A", "B") -> 1L, ("A", "C") -> 2L, ("B", "C") -> 1L))
  }

  test("duplicateProfile histograms document frequency of duplicated windows") {
    val got = Dedup.duplicateProfile(windowDocs, "doc_id", "text",
        windowTokens = 3, minDocs = 2)
      .collect().map(r => r.getAs[Long]("n_docs") -> r.getAs[Long]("n_windows")).toMap
    // "one two three" sits in 3 docs; "two three four" in 2
    assert(got === Map(3L -> 1L, 2L -> 1L))
  }

  test("LshIndex: incremental batches near-dup against history without rescanning it") {
    val dir = java.nio.file.Files.createTempDirectory("lshidx").toString
    val initial = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (200L, "completely different content about spark plans and shuffles at scale"))
      .toDF("doc_id", "text")
    val idx = LshIndex.build(initial, "doc_id", "text", dir)
    // batch 1: a dup of doc 100 with a SMALLER id (orientation case),
    // plus a unique doc
    val b1 = Seq(
      (5L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (300L, "nothing like anything indexed so far in any way whatsoever today"))
      .toDF("doc_id", "text")
    val p1 = idx.checkAndAdd(b1, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(p1.map(t => (t._1, t._2)).toSet === Set((5L, 100L)))
    assert(p1.head._3 === 1.0) // identical text -> every component matches
    // batch 2 dups BATCH 1's unique doc: history now includes batch 1
    val b2 = Seq(
      (400L, "nothing like anything indexed so far in any way whatsoever today"))
      .toDF("doc_id", "text")
    val p2 = idx.checkAndAdd(b2, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p2 === Set((300L, 400L)))
    // re-sending an indexed id is a no-op (no self-pairs, no growth)
    val before = idx.sigs.count()
    assert(idx.checkAndAdd(b2, "doc_id", "text").isEmpty)
    assert(idx.sigs.count() === before)
    // the index holds exactly the five distinct docs, banded on disk
    assert(idx.sigs.count() === 5)
    assert(new java.io.File(s"$dir/banded").listFiles()
      .count(_.getName.startsWith("band=")) === 16)
    // load validates the persisted parameters: matching opens, a
    // mismatch throws instead of silently corrupting estimates
    val reopened = LshIndex.load(spark, dir)
    assert(reopened.sigs.count() === 5)
    intercept[IllegalArgumentException] {
      LshIndex.load(spark, dir, numHashes = 128, bands = 32)
    }
    // within-batch duplicate ids collapse to one index row
    val dupBatch = Seq(
      (500L, "some fresh content never seen before in this suite at all"),
      (500L, "some fresh content never seen before in this suite at all"))
      .toDF("doc_id", "text")
    reopened.checkAndAdd(dupBatch, "doc_id", "text")
    assert(reopened.sigs.filter($"doc_id" === 500L).count() === 1)
    // pure check(): reports pairs against history but does NOT admit
    val probe = Seq(
      (600L, "some fresh content never seen before in this suite at all"))
      .toDF("doc_id", "text")
    val checked = reopened.check(probe, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(checked === Set((500L, 600L)))
    assert(reopened.sigs.filter($"doc_id" === 600L).isEmpty)
    // add() admits without reporting; the index grows exactly once
    reopened.add(probe, "doc_id", "text")
    assert(reopened.sigs.filter($"doc_id" === 600L).count() === 1)
    // buildOrLoad on an existing path is a load, not a rebuild
    assert(graft.dedup.LshIndex
      .buildOrLoad(probe, "doc_id", "text", dir).sigs.count() ===
      reopened.sigs.count())
  }

  test("LshIndex: legacy INT32-doc_id layout upcasts on read, incl. post-upgrade appends (ADVICE r11)") {
    // indexes written before appends cast idCol to long hold INT32
    // doc_id in their parquet files; the declared-BIGINT read must
    // widen them — measured supported on Spark 4.1.2 (LshIndex note) —
    // and must keep working after the first post-upgrade append leaves
    // the directory MIXED (INT32 + INT64 files)
    val dir = java.nio.file.Files.createTempDirectory("lshlegacy").toString
    val initial = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (200L, "completely different content about spark plans and shuffles at scale"))
      .toDF("doc_id", "text")
    LshIndex.build(initial, "doc_id", "text", dir)
    // rewrite both tables with doc_id narrowed to INT32 (the legacy
    // on-disk layout); stage through temp dirs since overwrite-in-place
    // reads and writes the same path
    def narrow(sub: String, partCols: Seq[String]): Unit = {
      val legacy = spark.read.parquet(s"$dir/$sub")
        .withColumn("doc_id", $"doc_id".cast("int"))
      val tmp = java.nio.file.Files.createTempDirectory("lshnarrow").toString
      val w = legacy.write.mode("overwrite")
      (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w).parquet(tmp)
      val target = new java.io.File(s"$dir/$sub")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(target)
      java.nio.file.Files.move(java.nio.file.Paths.get(tmp),
        java.nio.file.Paths.get(s"$dir/$sub"))
    }
    narrow("sigs", Nil)
    narrow("banded", Seq("band"))
    val idx = LshIndex.load(spark, dir)
    assert(idx.sigs.schema("doc_id").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(idx.sigs.count() === 2)
    // the candidate join against legacy history still works end to end
    val probe = Seq(
      (5L, "the quick brown fox jumps over the lazy dog again and again tonight"))
      .toDF("doc_id", "text")
    val pairs = idx.check(probe, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((5L, 100L)))
    // post-upgrade lifecycle: the first add() writes INT64 files into
    // the same dirs (mode append) — the mixed directory must read and
    // ingest exactly like a uniform one
    idx.checkAndAdd(probe, "doc_id", "text")
    assert(idx.sigs.count() === 3)
    assert(idx.sigs.schema("doc_id").dataType ===
      org.apache.spark.sql.types.LongType)
    val probe2 = Seq(
      (300L, "completely different content about spark plans and shuffles at scale"))
      .toDF("doc_id", "text")
    val pairs2 = idx.check(probe2, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs2 === Set((200L, 300L))) // matches a LEGACY-file doc
  }

  test("pruneNearDups keeps each cluster's smallest id and every unpaired doc") {
    // docs 1-2-3 form one near-dup chain (1~2, 2~3 share most shingles),
    // 10-11 a second cluster, 20 is unique; 30 matches nothing in its
    // own block despite matching 1's text (different source = block)
    val base = "the quick brown fox jumps over the lazy dog tonight again"
    val docs = Seq(
      (1L, base, "web"),
      (2L, base + " ok", "web"),
      (3L, base + " ok fine", "web"),
      (10L, "completely different text about spark shuffles at massive scale", "web"),
      (11L, "completely different text about spark shuffles at massive scale", "web"),
      (20L, "nothing shares shingles with this one in any block anywhere", "web"),
      (30L, base, "books"))
      .toDF("doc_id", "text", "source")
    val kept = Dedup.pruneNearDups(docs, "doc_id", "text", "source",
        shingleN = 3, threshold = 0.3)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept === Set(1L, 10L, 20L, 30L))
  }

  test("pruneNearDups/pruneNearDupsLsh reject thresholds outside (0, 1]") {
    // the class-collapse losslessness proof needs jaccard-1.0 cliques
    // to always pair, i.e. threshold <= 1.0 — pinned as a precondition
    val docs = Seq((1L, "a b c", "web")).toDF("doc_id", "text", "source")
    intercept[IllegalArgumentException] {
      Dedup.pruneNearDups(docs, "doc_id", "text", "source", threshold = 1.5)
    }
    intercept[IllegalArgumentException] {
      Dedup.pruneNearDups(docs, "doc_id", "text", "source", threshold = 0.0)
    }
    intercept[IllegalArgumentException] {
      Dedup.pruneNearDupsLsh(docs, "doc_id", "text", threshold = 1.0001)
    }
  }

  test("LshIndex.compact rewrites accumulated appends without changing the band table") {
    val dir = java.nio.file.Files.createTempDirectory("lshcompact").toString
    val initial = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (2L, "completely different content about spark plans and shuffles at scale"))
      .toDF("doc_id", "text")
    val idx = LshIndex.build(initial, "doc_id", "text", dir)
    // a run of small per-batch appends fragments both tables
    (10L to 14L).foreach { i =>
      idx.add(Seq((i, s"fresh unique content number $i never indexed before in this corpus"))
        .toDF("doc_id", "text"), "doc_id", "text")
    }
    val filesBefore = idx.dataFileCount()
    val sigsBefore = idx.sigs.collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1).toSeq
    val bandedBefore = idx.banded.select("doc_id", "band", "bh").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // below the threshold: no-op; above: compacts
    assert(!idx.compactIfFragmented(maxFiles = 10000))
    assert(idx.dataFileCount() === filesBefore)
    assert(idx.compactIfFragmented(maxFiles = 4))
    assert(idx.dataFileCount() < filesBefore,
      s"expected fewer files than $filesBefore, got ${idx.dataFileCount()}")
    // band-table and signature equivalence: same rows, bit for bit
    assert(idx.sigs.collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
      .sortBy(_._1).toSeq === sigsBefore)
    assert(idx.banded.select("doc_id", "band", "bh").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet === bandedBefore)
    // the by-band partition layout survives (one dir per band)
    assert(new java.io.File(s"$dir/banded").listFiles()
      .count(_.getName.startsWith("band=")) === 16)
    // and the compacted index still answers checks against history
    val probe = Seq(
      (99L, "the quick brown fox jumps over the lazy dog again and again tonight"))
      .toDF("doc_id", "text")
    val pairs = idx.check(probe, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 99L)))
    // crash window: a compact that died between delete and rename must
    // be recovered by the MAINTENANCE entry point before it counts
    // files (review finding r13), without recompacting under threshold
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s"$dir/$s")
    assert(fs.rename(p("sigs"), p("sigs_next")))
    assert(!idx.compactIfFragmented(maxFiles = 10000))
    assert(fs.exists(p("sigs")) && !fs.exists(p("sigs_next")))
    assert(idx.sigs.collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
      .sortBy(_._1).toSeq === sigsBefore)
  }

  test("LshIndex.withAutoMaintenance compacts on the append that crosses maxFiles, content unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("lshauto").toString
    val initial = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (2L, "completely different content about spark plans and shuffles at scale"))
      .toDF("doc_id", "text")
    val built = LshIndex.build(initial, "doc_id", "text", dir)
    val maxFiles = built.dataFileCount()
    val idx: LshIndex = built.withAutoMaintenance(maxFiles = maxFiles)
    def sigRows = idx.sigs.collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1).toSeq
    def bandRows = idx.banded.select("doc_id", "band", "bh").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val sigsBefore = sigRows
    val bandedBefore = bandRows
    val added = 10L to 12L
    added.foreach { i =>
      idx.add(Seq((i, s"fresh unique content number $i never indexed before in this corpus"))
        .toDF("doc_id", "text"), "doc_id", "text")
      // every append lands new files in both tables, so only the
      // compaction the append itself ran brings the count back under
      assert(idx.dataFileCount() <= maxFiles,
        s"append of $i left ${idx.dataFileCount()} files over the cap $maxFiles")
    }
    // history rows bit for bit, and each appended doc exactly once
    val sigsAfter = sigRows
    assert(sigsAfter.filterNot(r => added.contains(r._1)) === sigsBefore)
    assert(sigsAfter.map(_._1) === (sigsBefore.map(_._1) ++ added).sorted)
    val bandedAfter = bandRows
    assert(bandedAfter.filterNot(r => added.contains(r._1)) === bandedBefore)
    assert(bandedAfter.count(r => added.contains(r._1)) === added.size * 16)
    assert(new java.io.File(s"$dir/banded").listFiles()
      .count(_.getName.startsWith("band=")) === 16)
    val probe = Seq(
      (99L, "the quick brown fox jumps over the lazy dog again and again tonight"))
      .toDF("doc_id", "text")
    assert(idx.check(probe, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 99L)))
  }

  test("contaminatedIds flags docs sharing >= minOverlap distinct shingles with the benchmark") {
    val docs = Seq(
      (1L, "a b c d e f g h"),   // 4 of its 5-grams appear in the benchmark
      (2L, "z y x w v u t s"),   // disjoint vocabulary
      (3L, "a b c d e q r s t")) // exactly one shared 5-gram
      .toDF("doc_id", "text")
    val bench = Seq((100L, "a b c d e f g h i")).toDF("bid", "text")
    val m = Dedup.contaminatedIds(docs, "doc_id", "text", bench, "text",
        shingleN = 5, minOverlap = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m === Map(1L -> 4L)) // doc 3's single overlap is under the floor
    // the benchmark side is the broadcast build side
    val plan = Dedup.contaminatedIds(docs, "doc_id", "text", bench, "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("cutDuplicateSpans removes exactly the flagged token ranges, keeps everything else") {
    val docs = Seq(
      (1L, "a b c d e f g h"),                  // span [0,6) -> "g h" survives
      (2L, "x y a b c d e f q r"),              // span [2,8) -> "x y q r"
      (3L, "m n o p"),                          // untouched
      (4L, "a b c d g1 g2 g3 g4 g5 a b c d"))   // spans [0,4) + [9,13) -> middle survives
      .toDF("doc_id", "text")
    val out = Dedup.cutDuplicateSpans(docs, "doc_id", "text",
        windowTokens = 4, minDocs = 2)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L) === (("g h", 6L)))
    assert(out(2L) === (("x y q r", 6L)))
    assert(out(3L) === (("m n o p", 0L)))
    assert(out(4L) === (("g1 g2 g3 g4 g5", 8L)))
  }

  test("duplicateSpans: merge/gap/adjacency semantics, short docs and within-doc repeats excluded") {
    val docs = Seq(
      (1L, "a b c d e f g h"),                   // shares a..f 4-grams with doc 2
      (2L, "x y a b c d e f q r"),
      (3L, "m n o p"),                           // unique -> no spans
      (4L, "a b c d g1 g2 g3 g4 g5 a b c d"),    // two far-apart hits -> two spans
      (5L, "p1 p2 p3 p4 q1 q2 q3 q4"),           // hits at 0 and 4 -> adjacent, merged
      (6L, "p1 p2 p3 p4 k1 k2 k3 q1 q2 q3 q4"),  // hits at 0 and 7 -> split
      (7L, "a b c"),                              // shorter than the window -> no windows
      (8L, "r1 r2 r3 r4 z r1 r2 r3 r4"))          // repeats ONLY within itself -> not duplicated
      .toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(docs, "doc_id", "text",
        windowTokens = 4, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(out === Set(
      (1L, 0L, 6L, 3L),   // windows at 0,1,2 merge
      (2L, 2L, 8L, 3L),   // the same content, offset by 2
      (4L, 0L, 4L, 1L), (4L, 9L, 13L, 1L),
      (5L, 0L, 8L, 2L),   // gap == window: adjacent, merged
      (6L, 0L, 4L, 1L), (6L, 7L, 11L, 1L)))
    // docs 3 (unique), 7 (too short), 8 (self-repeat only) contribute nothing
    assert(!out.exists(s => Set(3L, 7L, 8L).contains(s._1)))
  }

  test("pairMassAudit: hand-computed per-block mass, collapse and copy bases") {
    import org.apache.spark.sql.functions._
    // block s trigram universe: "a b c" in d1,d2; the other four
    // shingles are singletons. d4 is an identical copy of d1.
    val docs = Seq(
      (1L, "a b c d", "s"), (2L, "a b c e", "s"),
      (3L, "x y z w", "s"), (4L, "a b c d", "s"))
      .toDF("doc_id", "text", "source")
    def row(df: org.apache.spark.sql.DataFrame) = {
      val r = df.collect()
      assert(r.length === 1)
      (r(0).getAs[Long]("n_postings"), r(0).getAs[Long]("n_shingles"),
        r(0).getAs[Long]("max_df"), r(0).getAs[Long]("candidate_pairs"))
    }
    // collapsed (the shipped dedup_jaccard basis): d4 folds into d1 ->
    // df("a b c")=2, four singletons -> mass = 1
    assert(row(Dedup.pairMassAudit(docs, "doc_id", "text", "source")) ===
      ((6L, 5L, 2L, 1L)))
    // per-copy basis: df("a b c")=3, df("b c d")=2 -> mass = 3 + 1 = 4
    assert(row(Dedup.pairMassAudit(docs, "doc_id", "text", "source",
      collapseClasses = false)) === ((8L, 5L, 3L, 4L)))
    // df-cap: with frac such that "a b c" (df 2 of nd 3 reps = 0.67)
    // is boilerplate, the mass drops to zero and singletons remain
    assert(row(Dedup.pairMassAudit(docs, "doc_id", "text", "source",
      maxShingleDocFrac = Some(0.5))) === ((4L, 4L, 1L, 0L)))
  }

  test("maxCandidatePairs guard: identical output under budget, measured fail-fast over it") {
    val expected = Dedup.blockedJaccardClassed(docs, "doc_id", "text",
        "source", threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val guarded = Dedup.blockedJaccardClassed(docs, "doc_id", "text",
        "source", threshold = 0.3, maxCandidatePairs = Some(1000000L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(guarded === expected && guarded.nonEmpty)
    // over budget: the job dies with the MEASURED mass in the message,
    // not an OOM — walk the cause chain (assert_true surfaces wrapped
    // in SparkException from the failed stage)
    val ex = intercept[Throwable] {
      Dedup.blockedJaccardClassed(docs, "doc_id", "text", "source",
        threshold = 0.3, maxCandidatePairs = Some(0L)).collect()
    }
    val msgs = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("exceeds maxCandidatePairs"),
      s"guard did not fire with the routed message: $msgs")
    // pruneNearDups threads the same budget: under-budget run unchanged
    val pruned = Dedup.pruneNearDups(docs, "doc_id", "text", "source",
        threshold = 0.3, maxCandidatePairs = Some(1000000L))
      .select(org.apache.spark.sql.functions.col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    val prunedPlain = Dedup.pruneNearDups(docs, "doc_id", "text", "source",
        threshold = 0.3)
      .select(org.apache.spark.sql.functions.col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(pruned === prunedPlain)
  }

  test("pairMassAudit total equals the guard's asserted scalar: audit predicts the chain") {
    import org.apache.spark.sql.functions._
    // The guard asserts the GLOBAL Σ df·(df−1)/2 over the same
    // collapsed, capped universe the audit reports per block — so the
    // audit's sum must be exactly the largest bound that still fails
    // (bound = total − 1 dies, bound = total passes).
    // 6 distinct contents in s1 so the 0.5 df-cap (df <= 3) keeps the
    // base/nearDup shared trigrams (df = 2) in the universe
    val corpus = (Seq((1L, base, "s1"), (2L, nearDup, "s1")) ++
      (3L to 6L).map(i => (i, (1 to 40).map(j => s"v${i}w$j").mkString(" "), "s1")) ++
      Seq((7L, base, "s2")))
      .toDF("doc_id", "text", "source")
    val total = Dedup.pairMassAudit(corpus, "doc_id", "text", "source",
        maxShingleDocFrac = Some(0.5))
      .agg(sum(col("candidate_pairs"))).collect()(0).getLong(0)
    assert(total > 0)
    intercept[Throwable] {
      Dedup.blockedJaccardClassed(corpus, "doc_id", "text", "source",
        threshold = 0.3, maxShingleDocFrac = Some(0.5),
        maxCandidatePairs = Some(total - 1)).collect()
    }
    Dedup.blockedJaccardClassed(corpus, "doc_id", "text", "source",
      threshold = 0.3, maxShingleDocFrac = Some(0.5),
      maxCandidatePairs = Some(total)).collect()
  }

  test("pruneNearDupsAuto routes exact under budget, LSH over it — each branch bit-equal to its chain") {
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    // under budget: routed output == the exact chain's
    val auto = Dedup.pruneNearDupsAuto(docs, "doc_id", "text", "source",
      threshold = 0.3, maxShingleDocFrac = None)
    assert(ids(auto) === ids(Dedup.pruneNearDups(docs, "doc_id", "text",
      "source", threshold = 0.3)))
    // budget 0 forces the LSH branch: routed output == the LSH chain's
    // at the SAME banding params (seeded minhash -> deterministic)
    val autoLsh = Dedup.pruneNearDupsAuto(docs, "doc_id", "text", "source",
      threshold = 0.7, maxShingleDocFrac = None, maxCandidatePairs = 0L)
    assert(ids(autoLsh) === ids(Dedup.pruneNearDupsLsh(docs, "doc_id",
      "text", threshold = 0.7)))
    // and the LSH route still drops the base/nearDup twin (recall on
    // this 0.95-jaccard pair survives the banding)
    assert(ids(autoLsh).size < 4)
    // at a LOW threshold the router re-sizes the banding from the
    // threshold (32x2 for 0.3, not the 0.7-tuned 16x4 default):
    // routed output == the LSH chain AT THAT banding
    val autoLsh03 = Dedup.pruneNearDupsAuto(docs, "doc_id", "text",
      "source", threshold = 0.3, maxShingleDocFrac = None,
      maxCandidatePairs = 0L)
    assert(ids(autoLsh03) === ids(Dedup.pruneNearDupsLsh(docs, "doc_id",
      "text", bands = 32, threshold = 0.3)))
    // with the shipped entry's df-cap engaged (tiny LocalRelation stats
    // => the router shares the checkpointed universe), each route
    // equals its direct chain bit-for-bit, full rows. A fourth distinct
    // s1 doc keeps the base/nearDup shingles (df 2 of 4) under the cap,
    // so the capped mass is non-zero and budget 0 really routes to LSH.
    val capDocs = docs.union(Seq((5L, (1 to 60).map(i => s"more$i")
      .mkString(" "), "s1")).toDF("doc_id", "text", "source"))
    val sharedExact = Dedup.pruneNearDupsAuto(capDocs, "doc_id", "text",
      "source", threshold = 0.3, maxShingleDocFrac = Some(0.5))
    assert(sharedExact.collect().toSet === Dedup.pruneNearDups(capDocs,
      "doc_id", "text", "source", threshold = 0.3,
      maxShingleDocFrac = Some(0.5)).collect().toSet)
    assert(ids(sharedExact) === Set(1L, 3L, 4L, 5L))
    val sharedLsh = Dedup.pruneNearDupsAuto(capDocs, "doc_id", "text",
      "source", threshold = 0.3, maxShingleDocFrac = Some(0.5),
      maxCandidatePairs = 0L)
    assert(sharedLsh.collect().toSet === Dedup.pruneNearDupsLsh(capDocs,
      "doc_id", "text", bands = Dedup.lshBandingForThreshold(64, 0.3)._1,
      threshold = 0.3).collect().toSet)
    assert(ids(sharedLsh) === Set(1L, 3L, 5L))
  }

  test("class collapse on degenerate corpora: classed == plain jaccard, router == exact chain, nothing throws") {
    import org.apache.spark.sql.functions._
    val ta = (1 to 12).map(i => s"alpha$i").mkString(" ")
    val corpora = Seq(
      "zero duplicates" -> Seq((1L, base, "s1"), (2L, nearDup, "s1"),
        (3L, ta, "s1"), (4L, base, "s2")),
      "all identical" -> (1L to 5L).map(i => (i, ta, "s1")),
      "null texts" -> Seq((1L, null, "s1"), (2L, null, "s1"), (3L, ta, "s1"),
        (4L, ta, "s1"), (5L, null, "s2")),
      "null block" -> Seq((1L, ta, null), (2L, ta, null), (3L, ta, "s1"),
        (4L, base, null), (5L, nearDup, null)))
    corpora.foreach { case (name, rows) =>
      val df = rows.toDF("doc_id", "text", "source")
        .withColumn("n_chars", length(col("text")))
      def pairs(out: org.apache.spark.sql.DataFrame) =
        out.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val classed = pairs(Dedup.blockedJaccardClassed(df, "doc_id", "text",
        "source", threshold = 0.3))
      assert(classed === pairs(Dedup.blockedJaccard(df, "doc_id", "text",
        "source", threshold = 0.3)), name)
      val exact = Dedup.pruneNearDups(df, "doc_id", "text", "source",
        threshold = 0.3, maxShingleDocFrac = Some(0.5)).collect().toSet
      assert(Dedup.pruneNearDupsAuto(df, "doc_id", "text", "source",
        threshold = 0.3).collect().toSet === exact, name)
      // null-block rows are never collapsed or paired: all survive
      if (name == "null block") assert(exact.size === 5, name)
    }
  }

  test("hammingPairMassAudit: class structure by hand, bucket mass cross-checked against the fingerprints") {
    import org.apache.spark.sql.functions._
    val ta = (1 to 40).map(i => s"alpha$i").mkString(" ")
    val tb = (1 to 40).map(i => s"beta$i").mkString(" ")
    // three identical copies of ta (one class, m=3) + one tb singleton
    val corpus = Seq((1L, ta), (2L, ta), (3L, ta), (4L, tb))
      .toDF("doc_id", "text")
    val r = Dedup.hammingPairMassAudit(corpus, "doc_id", "text",
      maxHamming = 3).collect()(0)
    assert(r.getAs[Long]("n_classes") === 2L)
    assert(r.getAs[Long]("max_class_size") === 3L)
    // intra pairs: C(3,2) = 3 hamming-0 pairs from the ta class
    assert(r.getAs[Long]("intra_class_pairs") === 3L)
    // bucket mass: the two CLASSES land in the same (blk, bv) bucket
    // once per 16-bit block their fingerprints agree on — recompute
    // that count independently from the fingerprint words
    val fps = Dedup.fingerprintWords(corpus.dropDuplicates("text"),
        "doc_id", "text")
      .collect().map(x => (x.getAs[Long]("_lo"), x.getAs[Long]("_hi")))
    assert(fps.length === 2)
    val sharedBlocks = (0 until 4).count { b =>
      def blk(lo: Long, hi: Long) = {
        val w = if (b < 2) lo else hi
        (w >> ((b % 2) * 16)) & 0xffffL
      }
      blk(fps(0)._1, fps(0)._2) === blk(fps(1)._1, fps(1)._2)
    }
    assert(r.getAs[Long]("candidate_class_pairs") === sharedBlocks.toLong)
    assert(r.getAs[Long]("max_bucket_classes") ===
      (if (sharedBlocks > 0) 2L else 1L))
  }

  test("property: audit candidate_pairs == the verify join's ACTUAL row count (random corpora, independent formulation)") {
    import org.apache.spark.sql.functions._
    // independent on both axes: shingle STRINGS (Dedup.shingles, the
    // spec-pinned twin of the codegen hash form) and a literal
    // self-join COUNT instead of the sum-df(df-1)/2 formula
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { trial =>
      val vocab = 4 + trial * 3
      val gen = (1 to 25).map { i =>
        val len = 4 + rnd.nextInt(18)
        (i.toLong,
          (1 to len).map(_ => s"t${rnd.nextInt(vocab)}").mkString(" "),
          s"s${rnd.nextInt(3)}")
      }
      val docs = (gen ++ Seq((98L, null.asInstanceOf[String], "s1"),
        (99L, "solo", "s2"))).toDF("doc_id", "text", "source")
      val audit = Dedup.pairMassAudit(docs, "doc_id", "text", "source",
          collapseClasses = false)
        .agg(coalesce(sum(col("candidate_pairs")), lit(0L)))
        .collect()(0).getLong(0)
      val ex = docs.select(col("doc_id"), col("source").as("blk"),
        explode(Dedup.shingles(col("text"), 3)).as("g"))
      val joinRows = ex.as("a").join(ex.as("b"),
        col("a.blk") === col("b.blk") && col("a.g") === col("b.g") &&
          col("a.doc_id") < col("b.doc_id")).count()
      assert(audit === joinRows, s"trial $trial: audit promised $audit, " +
        s"the join materialized $joinRows")
    }
  }

  test("lshBandingForThreshold: MMDS midpoint sizing, defaults reproduced at 0.7") {
    // midpoints (1/b)^(1/r) over b*r=64: 64x1=.016, 32x2=.177,
    // 16x4=.5, 8x8=.771, 4x16=.917, 2x32=.979, 1x64=1.0
    assert(Dedup.lshBandingForThreshold(64, 0.7) === ((16, 4)))
    assert(Dedup.lshBandingForThreshold(64, 0.3) === ((32, 2)))
    assert(Dedup.lshBandingForThreshold(64, 0.9) === ((8, 8)))
    assert(Dedup.lshBandingForThreshold(64, 1.0) === ((1, 64)))
    // even the most permissive split sits above a tiny threshold ->
    // fall back to the most permissive
    assert(Dedup.lshBandingForThreshold(64, 0.01) === ((64, 1)))
    assert(Dedup.lshBandingForThreshold(1, 0.5) === ((1, 1)))
  }
}
