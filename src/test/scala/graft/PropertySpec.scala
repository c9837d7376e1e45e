package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.TimeSeriesOps
import graft.dedup.Dedup
import graft.similarity.Similarity

/** Generative properties: randomized inputs (deterministic scalacheck
  * seeds, so every run tests the SAME cases) checked against
  * independent in-memory reference implementations. These complement
  * the example specs and the DuckDB oracles with a third evidence
  * class — the reference here is a direct restatement of the
  * documented contract (pandas merge_asof rules, union-find, string
  * shingles), not a second Spark plan, so a shared-blind-spot bug in
  * the window formulation cannot hide.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._
  import PropertySpec._

  // ---- as-of joins vs the pandas merge_asof contract -----------------

  test("asof joins match the merge_asof reference on random keyed series") {
    samples(genSeries, 8, 1001L).zipWithIndex.foreach { case ((l, r), i) =>
      val left = l.map(e => (e.key, tsOf(e.tsMs), e.v)).toDF("key", "ts", "lv")
      val right = r.map(e => (e.key, tsOf(e.tsMs), e.v)).toDF("key", "ts", "rv")
      def run(df: org.apache.spark.sql.DataFrame): Seq[(Int, Long, Double, Option[Double])] =
        df.collect().map(x => (x.getInt(0), x.getTimestamp(1).getTime,
          x.getDouble(2), Option(x.get(3)).map(_.asInstanceOf[Double])))
          .toSeq.sorted
      // references, straight from the documented contract:
      // backward = latest right ts <= left ts, LARGEST value on ties;
      // forward = earliest right ts >= left ts, SMALLEST value on ties;
      // nearest = closer of the two, equal distance -> backward
      def bwd(e: Row3): Option[Row3] = {
        val c = r.filter(x => x.key == e.key && x.tsMs <= e.tsMs)
        if (c.isEmpty) None else Some(c.maxBy(x => (x.tsMs, x.v)))
      }
      def fwd(e: Row3): Option[Row3] = {
        val c = r.filter(x => x.key == e.key && x.tsMs >= e.tsMs)
        if (c.isEmpty) None else Some(c.minBy(x => (x.tsMs, x.v)))
      }
      def near(e: Row3): Option[Row3] = (bwd(e), fwd(e)) match {
        case (Some(b), Some(f)) =>
          if (e.tsMs - b.tsMs <= f.tsMs - e.tsMs) Some(b) else Some(f)
        case (b, f) => b.orElse(f)
      }
      def expect(pick: Row3 => Option[Row3]) =
        l.map(e => (e.key, e.tsMs, e.v, pick(e).map(_.v))).sorted
      val ctx = s"case $i: left=$l right=$r"
      assert(run(TimeSeriesOps.asofJoinBackward(left, right, Seq("key"), "ts",
        Seq("rv"))) === expect(bwd), s"backward $ctx")
      assert(run(TimeSeriesOps.asofJoinForward(left, right, Seq("key"), "ts",
        Seq("rv"))) === expect(fwd), s"forward $ctx")
      assert(run(TimeSeriesOps.asofJoinNearest(left, right, Seq("key"), "ts",
        Seq("rv"))) === expect(near), s"nearest $ctx")
    }
  }

  // ---- linear interpolation vs the pandas-default reference ----------

  private val genGappy: Gen[List[(Int, Long, Option[Double])]] = for {
    n <- Gen.choose(2, 30)
    keys <- Gen.listOfN(n, Gen.choose(0, 1))
    // n draws from n stamps: duplicate timestamps, the tie path
    stamps <- Gen.listOfN(n, Gen.choose(1, n))
    vals <- Gen.listOfN(n, Gen.option(Gen.choose(-50, 50).map(_.toDouble)))
  } yield keys.lazyZip(stamps).lazyZip(vals).toList
    .map { case (k, t, v) => (k, t * 7000L, v) }

  test("interpolateLinear matches the prev/next reference on random gappy series") {
    samples(genGappy, 8, 2002L).zipWithIndex.foreach { case (rows, i) =>
      val df = rows.map { case (k, ms, v) =>
        (k, tsOf(ms), v.map(Double.box).orNull.asInstanceOf[java.lang.Double])
      }.toDF("key", "ts", "v")
      // rows sharing (key, ts, v) interpolate alike, so the output is
      // compared as a multiset sorted like the reference
      val got = TimeSeriesOps
        .interpolateLinear(df, Seq("key"), "ts", "v", "vi")
        .collect().map(r => (r.getInt(0), r.getTimestamp(1).getTime,
          Option(r.get(2)).map(_.asInstanceOf[Double]),
          Option(r.get(3)).map(_.asInstanceOf[Double]))).toSeq
        .sortBy(r => (r._1, r._2, r._3)).iterator
      rows.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (_, series) =>
        // the operator's order: ts, then value ascending, nulls first
        val s = series.sortBy(r => (r._2, r._3))
        s.indices.foreach { j =>
          val (k, ms, v) = s(j)
          val exp: Option[Double] = v.orElse {
            val prev = s.take(j).reverse.find(_._3.isDefined)
            val next = s.drop(j + 1).find(_._3.isDefined)
            (prev, next) match {
              case (Some((_, t0, Some(v0))), Some((_, t1, Some(v1)))) =>
                // same association order as the column formula, in µs
                Some(v0 + (v1 - v0) * ((ms - t0) * 1000L) /
                  ((t1 - t0) * 1000L))
              case (Some((_, _, Some(v0))), _) => Some(v0) // trailing ffill
              case _ => None                               // leading stays null
            }
          }
          val (gk, gms, gv, g) = got.next()
          assert((gk, gms, gv) === ((k, ms, v)), s"case $i rows=$rows")
          assert(g.isDefined === exp.isDefined, s"case $i rows=$rows at $ms")
          g.zip(exp).foreach { case (a, b) =>
            assert(math.abs(a - b) < 1e-9, s"case $i rows=$rows at $ms: $a vs $b")
          }
        }
      }
    }
  }

  // ---- nearest upsampling vs the reindex(method='nearest') reference --

  // 7 s stamps straddling the epoch (pre-1970 rows exercise the
  // floor-divided grid bounds), duplicate stamps, nulls skipped, ties
  // possible
  private val genUpsample: Gen[(Long, List[(Int, Long, Option[Double])])] = for {
    intervalSec <- Gen.oneOf(10L, 30L, 60L)
    n <- Gen.choose(1, 30)
    keys <- Gen.listOfN(n, Gen.choose(0, 1))
    stamps <- Gen.listOfN(n, Gen.choose(1, n))
    vals <- Gen.listOfN(n, Gen.option(Gen.choose(-50, 50).map(_.toDouble)))
  } yield (intervalSec, keys.lazyZip(stamps).lazyZip(vals).toList
    .map { case (k, t, v) => (k, (t - 12) * 7000L, v) })

  test("upsampleNearest matches the nearest-observation reference on random series") {
    samples(genUpsample, 8, 4004L).zipWithIndex.foreach { case ((iSec, rows), i) =>
      val df = rows.map { case (k, ms, v) =>
        (k, tsOf(ms), v.map(Double.box).orNull.asInstanceOf[java.lang.Double])
      }.toDF("key", "ts", "v")
      val got = TimeSeriesOps.upsampleNearest(df, Seq("key"), "ts", "v", iSec)
        .collect().map(r => (r.getInt(0), r.getTimestamp(1).getTime,
          Option(r.get(2)).map(_.asInstanceOf[Double]))).toSeq.sorted
      // per key: grid from floor(min ts) to floor(max ts) in interval
      // steps; each point takes the closest non-null observation, an
      // equal distance going to the earlier one; among observations
      // sharing a stamp, the earlier side's is the largest value and
      // the later side's the smallest
      val iMs = iSec * 1000L
      val exp = rows.groupBy(_._1).toSeq.flatMap { case (k, series) =>
        val obs = series.collect { case (_, ms, Some(v)) => (ms, v) }
        val lo = math.floorDiv(series.map(_._2).min, iMs)
        val hi = math.floorDiv(series.map(_._2).max, iMs)
        (lo to hi).map { b =>
          val g = b * iMs
          val prev = obs.filter(_._1 <= g).maxByOption(identity)
          val next = obs.filter(_._1 > g).minByOption(identity)
          val pick = (prev, next) match {
            case (Some(p), Some(nx)) => Some(if (g - p._1 <= nx._1 - g) p else nx)
            case (p, nx) => p.orElse(nx)
          }
          (k, g, pick.map(_._2))
        }
      }.sorted
      assert(got === exp, s"case $i interval=$iSec rows=$rows")
    }
  }

  // ---- connected components vs union-find ----------------------------

  private val genEdges: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(0, 35)
    es <- Gen.listOfN(n, for {
      a <- Gen.choose(0L, 24L); b <- Gen.choose(0L, 24L)
    } yield (a, b))
  } yield es

  test("connectedComponents matches union-find min-labels on random graphs") {
    samples(genEdges, 8, 3003L).zipWithIndex.foreach { case (es, i) =>
      if (es.nonEmpty) {
        // reference: path-compressing union-find, then min node per root
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        es.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(ra) = rb
        }
        val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
        val minOf = nodes.groupBy(find).map { case (r, ns) => (r, ns.min) }
        val exp = nodes.map(n => (n, minOf(find(n)))).toMap
        // both paths: driver union-find and the distributed loop
        for (bound <- Seq(1000000L, 0L)) {
          val got = Dedup.connectedComponents(es.toDF("src", "dst"),
              driverEdgeBound = bound)
            .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
          assert(got === exp, s"case $i edges=$es driverEdgeBound=$bound")
        }
      }
    }
  }

  // ---- r11 carried-fingerprint rewrites vs brute-force references ----
  // These target the machinery the r11 rewrites changed — the block
  // equi-join, the row-local exactly-once rule, the over-cap bitmask —
  // by collecting the ENGINE's own signatures and brute-forcing the
  // pair set from them in Scala. (Signature correctness itself is
  // pinned by the DuckDB oracles.)

  private val genTexts: Gen[List[String]] = for {
    n <- Gen.choose(5, 10)
    base <- Gen.listOfN(n, Gen.listOfN(25,
      Gen.choose(0, 49).map(w => s"w$w")).map(_.mkString(" ")))
    nDup <- Gen.choose(1, 3)
    dupOf <- Gen.listOfN(nDup, Gen.choose(0, n - 1))
    nNear <- Gen.choose(1, 3)
    nearOf <- Gen.listOfN(nNear, Gen.choose(0, n - 1))
  } yield base ++ dupOf.map(base) ++ nearOf.map { s =>
    // one-word edit: a small, sometimes-in-radius fingerprint change
    val w = base(s).split(" "); w(7) = "edited"; w.mkString(" ")
  }

  private def popcnt(x: Long) = java.lang.Long.bitCount(x)

  test("hammingNearDup equals the brute-force radius scan (lossless pigeonhole), each pair exactly once") {
    samples(genTexts, 5, 5005L).zipWithIndex.foreach { case (texts, i) =>
      val docs = texts.zipWithIndex.map { case (t, id) => (id.toLong, t) }
        .toDF("doc_id", "text")
      val rows = Dedup.hammingNearDup(docs, "doc_id", "text", maxHamming = 3)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toSeq
      assert(rows.map(_._1).distinct.size === rows.size,
        s"case $i: duplicate pair emissions in $rows")
      val fps = Dedup.fingerprintWords(docs, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      val exp = (for {
        (a, alo, ahi) <- fps; (b, blo, bhi) <- fps if a < b
        h = popcnt(alo ^ blo) + popcnt(ahi ^ bhi) if h <= 3
      } yield ((a, b), h.toLong)).toMap
      assert(rows.toMap === exp, s"case $i texts=$texts")
    }
  }

  test("simhashNearDup equals the band-sharing + radius reference, capped and uncapped, each pair exactly once") {
    samples(genTexts, 5, 6006L).zipWithIndex.foreach { case (texts, i) =>
      val docs = texts.zipWithIndex.map { case (t, id) => (id.toLong, t) }
        .toDF("doc_id", "text")
      val words = Dedup.simhashWords(docs, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      // 4 x 16-bit blocks of fp64 = lo | hi << 32 (band k = bits 16k..)
      def blocks(lo: Long, hi: Long): Seq[Long] = {
        val fp = lo | (hi << 32)
        (0 until 4).map(k => (fp >>> (16 * k)) & 0xFFFFL)
      }
      def expect(cap: Int): Map[(Long, Long), Long] = {
        val bySize = words.flatMap { case (_, lo, hi) =>
          blocks(lo, hi).zipWithIndex.map { case (bv, k) => (k, bv) }
        }.groupBy(identity).view.mapValues(_.size).toMap
        (for {
          (a, alo, ahi) <- words; (b, blo, bhi) <- words if a < b
          h = popcnt(alo ^ blo) + popcnt(ahi ^ bhi) if h <= 8
          shared = blocks(alo, ahi).zip(blocks(blo, bhi)).zipWithIndex
            .filter { case ((x, y), k) => x == y && bySize((k, x)) <= cap }
          if shared.nonEmpty
        } yield ((a, b), h.toLong)).toMap
      }
      Seq(10000, 2).foreach { cap =>
        val rows = Dedup.simhashNearDup(docs, "doc_id", "text",
            maxHamming = 8, maxBucketSize = cap)
          .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toSeq
        assert(rows.map(_._1).distinct.size === rows.size,
          s"case $i cap=$cap: duplicate pair emissions")
        assert(rows.toMap === expect(cap), s"case $i cap=$cap texts=$texts")
      }
    }
  }

  private val genVecs: Gen[List[Array[Double]]] = for {
    n <- Gen.choose(4, 8)
    base <- Gen.listOfN(n, Gen.listOfN(8,
      Gen.choose(-100, 100).map(_ / 10.0)).map(_.toArray))
    nNear <- Gen.choose(1, 3)
    nearOf <- Gen.listOfN(nNear, Gen.choose(0, n - 1))
  } yield base ++ nearOf.map(s => base(s).map(_ * 1.01 + 0.005))

  test("embeddingNearDup equals the shared-band + cosine reference, capped and uncapped, each pair exactly once") {
    samples(genVecs, 5, 7007L).zipWithIndex.foreach { case (vecs, i) =>
      val df = vecs.zipWithIndex.map { case (v, id) => (id.toLong, v) }
        .toDF("vec_id", "embedding")
      val bands = df.select(col("vec_id"),
          org.apache.spark.sql.graft.VectorExpressions.hyperplaneBands(
            col("embedding"), Similarity.planes(16, 8, 42L), 8).as("b"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toIndexedSeq)).toMap
      def cos(a: Array[Double], b: Array[Double]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var j = 0
        while (j < a.length) { d += a(j) * b(j); na += a(j) * a(j)
          nb += b(j) * b(j); j += 1 }
        d / (math.sqrt(na) * math.sqrt(nb))
      }
      def expect(cap: Int): Set[(Long, Long)] = {
        val bySize = bands.values.flatMap(_.zipWithIndex.map(_.swap))
          .groupBy(identity).view.mapValues(_.size).toMap
        (for {
          a <- vecs.indices; b <- vecs.indices if a < b
          shared = bands(a.toLong).zip(bands(b.toLong)).zipWithIndex
            .filter { case ((x, y), k) => x == y && bySize((k, x)) <= cap }
          if shared.nonEmpty && cos(vecs(a), vecs(b)) >= 0.95
        } yield (a.toLong, b.toLong)).toSet
      }
      Seq(10000, 2).foreach { cap =>
        val rows = graft.similarity.Similarity.embeddingNearDup(df, "vec_id",
            "embedding", dim = 8, threshold = 0.95, numBits = 16,
            bitsPerBand = 8, maxBucketSize = cap)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        assert(rows.distinct.size === rows.size,
          s"case $i cap=$cap: duplicate pair emissions")
        assert(rows.toSet === expect(cap), s"case $i cap=$cap")
      }
    }
  }

  // ---- assembly (Mix) family invariants --------------------------------

  private val genPackCorpus: Gen[List[(Int, Long, Long)]] = for {
    n <- Gen.choose(1, 60)
    rows <- Gen.listOfN(n, for {
      sh <- Gen.choose(0, 2)
      tok <- Gen.choose(1, 500)
    } yield (sh, tok.toLong))
  } yield rows.zipWithIndex.map { case ((sh, tok), id) => (sh, id.toLong, tok) }

  test("packing lays every shard out contiguously from 0 with pack_id = offset div capacity (both variants)") {
    samples(genPackCorpus, 6, 8008L).zipWithIndex.foreach { case (rows, i) =>
      val df = rows.toDF("shard", "doc_id", "tokens")
      def checkLayout(out: Seq[(Int, Long, Long, Long, Long)], which: String): Unit = {
        // (shard, doc_id, tokens, tok_offset, pack_id)
        assert(out.map(r => (r._1, r._2)).sorted ===
          rows.map(r => (r._1, r._2)).sorted, s"case $i $which: rows lost/duped")
        out.groupBy(_._1).foreach { case (sh, g) =>
          val sorted = g.sortBy(_._4)
          var expect = 0L
          sorted.foreach { case (_, id, tok, off, pid) =>
            assert(off === expect,
              s"case $i $which shard $sh doc $id: offset $off != $expect (gap/overlap)")
            assert(pid === off / 512, s"case $i $which doc $id pack_id")
            expect += tok
          }
        }
      }
      def collect(out: org.apache.spark.sql.DataFrame) =
        out.select(col("shard"), col("doc_id"), col("tokens"),
            col("tok_offset"), col("pack_id"))
          .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4))).toSeq
      checkLayout(collect(graft.mix.Mix.packSequences(df, "shard", "doc_id",
        "tokens", 512)), "plain")
      checkLayout(collect(graft.mix.Mix.packSequencesScalable(df, "shard",
        "doc_id", "tokens", 512, numSubShards = 4)), "scalable")
    }
  }

  test("splitByHash partitions every id into exactly one split, stable under corpus subsetting") {
    val splits = Seq("train" -> 0.7, "val" -> 0.1, "test" -> 0.2)
    val gen = for {
      n <- Gen.choose(50, 400)
      ids <- Gen.listOfN(n, Gen.choose(0L, 100000L))
    } yield ids.distinct
    samples(gen, 6, 9009L).zipWithIndex.foreach { case (ids, i) =>
      val full = graft.mix.Mix.splitByHash(ids.toDF("doc_id"), "doc_id", splits)
        .collect().map(r => (r.getLong(0), r.getString(1))).toMap
      assert(full.keySet === ids.toSet, s"case $i: rows lost")
      assert(full.values.toSet.subsetOf(Set("train", "val", "test")))
      // THE contamination-safety property: assignment is a function of
      // the id alone — a half-corpus re-run never reassigns anything
      val half = ids.take(ids.size / 2)
      if (half.nonEmpty) {
        val sub = graft.mix.Mix.splitByHash(half.toDF("doc_id"), "doc_id", splits)
          .collect().map(r => (r.getLong(0), r.getString(1))).toMap
        assert(sub === half.map(id => (id, full(id))).toMap, s"case $i: unstable")
      }
      // loose frequency sanity on the larger corpora
      if (ids.size >= 200) {
        val trainFrac = full.values.count(_ == "train").toDouble / ids.size
        assert(math.abs(trainFrac - 0.7) < 0.12, s"case $i: train frac $trainFrac")
      }
    }
  }

  test("interleaveWeighted's global key order IS start-time fair queuing (greedy simulation parity)") {
    val weights = Seq(("a", 1.0), ("b", 0.5), ("c", 0.25))
    val gen = for {
      na <- Gen.choose(5, 20); nb <- Gen.choose(5, 20); nc <- Gen.choose(5, 20)
    } yield Seq("a" -> na, "b" -> nb, "c" -> nc)
    samples(gen, 5, 10010L).zipWithIndex.foreach { case (counts, i) =>
      var id = -1L
      val rows = counts.flatMap { case (s, n) =>
        (0 until n).map { _ => id += 1; (id, s) }
      }
      val out = graft.mix.Mix.interleaveWeighted(rows.toDF("doc_id", "source"),
          "doc_id", "source", weights.toDF("source", "weight"))
        .collect().map(r => (r.getAs[String]("source"),
          r.getAs[Long]("seq"), r.getAs[Double]("interleave_key")))
      // per-source seq must be dense 0..n-1
      out.groupBy(_._1).foreach { case (s, g) =>
        assert(g.map(_._2).sorted.toSeq === (0L until g.size.toLong).toSeq,
          s"case $i source $s: seq not dense")
      }
      // the engine's ascending-key source order must equal the greedy
      // fair-queue simulation (weights chosen so keys can never tie)
      val engineOrder = out.sortBy(_._3).map(_._1).toSeq
      val remaining = scala.collection.mutable.Map(counts.map { case (s, n) => (s, n) }: _*)
      val emitted = scala.collection.mutable.Map("a" -> 0, "b" -> 0, "c" -> 0)
      val wMap = weights.toMap
      val sim = Seq.newBuilder[String]
      while (remaining.values.sum > 0) {
        val s = remaining.filter(_._2 > 0).keys
          .minBy(s => (emitted(s) + 0.5) / wMap(s))
        sim += s; emitted(s) += 1; remaining(s) -= 1
      }
      assert(engineOrder === sim.result(), s"case $i counts=$counts")
    }
  }

  test("sampleByHash: nested rates, subset-stable, frequency-sane") {
    val gen = for {
      n <- Gen.choose(100, 500)
      ids <- Gen.listOfN(n, Gen.choose(0L, 1000000L))
    } yield ids.distinct
    samples(gen, 5, 19019L).zipWithIndex.foreach { case (ids, i) =>
      val df = ids.toDF("doc_id")
      def sample(rate: Double, of: Seq[Long] = ids): Set[Long] =
        graft.mix.Mix.sampleByHash(of.toDF("doc_id"), "doc_id", rate)
          .collect().map(_.getLong(0)).toSet
      val s25 = sample(0.25); val s50 = sample(0.5)
      // monotone nesting: the 25% sample IS a subset of the 50% sample
      // (hash-threshold membership), enabling reproducible sub-subsets
      assert(s25.subsetOf(s50), s"case $i: samples not nested")
      // subset stability: sampling half the corpus selects exactly the
      // full-corpus selections among those ids
      val half = ids.take(ids.size / 2)
      assert(sample(0.5, half) === s50.intersect(half.toSet), s"case $i")
      // loose frequency sanity
      val frac = s50.size.toDouble / ids.size
      assert(math.abs(frac - 0.5) < 0.15, s"case $i: 50% sample frac $frac")
    }
  }

  test("stratifiedHashSample takes exactly min(k, stratum size) rows per stratum, reproducibly") {
    val gen = for {
      n <- Gen.choose(10, 120)
      rows <- Gen.listOfN(n, Gen.choose(0, 4))
    } yield rows.zipWithIndex.map { case (k, id) => (k, id.toLong) }
    samples(gen, 5, 11011L).zipWithIndex.foreach { case (rows, i) =>
      val df = rows.toDF("stratum", "doc_id")
      def run() = graft.mix.Mix.stratifiedHashSample(df, "stratum", "doc_id", 7)
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
      val got = run()
      val bySt = rows.groupBy(_._1).view.mapValues(_.size).toMap
      got.groupBy(_._1).foreach { case (st, g) =>
        assert(g.size === math.min(7, bySt(st)), s"case $i stratum $st")
      }
      assert(bySt.keySet.forall(st => got.exists(_._1 == st)), s"case $i: stratum lost")
      assert(got === run(), s"case $i: not reproducible")
    }
  }

  // ---- incremental LSH index: chunking invariance ----------------------

  test("LshIndex accumulates the same pair set regardless of how the corpus is chunked into increments") {
    import graft.dedup.LshIndex
    val gen = for {
      n <- Gen.choose(6, 14)
      texts <- Gen.listOfN(n, Gen.listOfN(25,
        Gen.choose(0, 30).map(w => s"w$w")).map(_.mkString(" ")))
      nDup <- Gen.choose(1, 3)
      dupOf <- Gen.listOfN(nDup, Gen.choose(0, n - 1))
      cut1 <- Gen.choose(1, n + nDup - 1)
      cut2 <- Gen.choose(1, n + nDup - 1)
    } yield (texts ++ dupOf.map(texts), Seq(cut1, cut2))
    samples(gen, 4, 14014L).zipWithIndex.foreach { case ((texts, cuts), i) =>
      val rows = texts.zipWithIndex.map { case (t, id) => (id.toLong, t) }
      def run(chunks: Seq[Seq[(Long, String)]], tag: String): Map[(Long, Long), Double] = {
        val path = java.nio.file.Files
          .createTempDirectory(s"lsh_prop_${i}_$tag").toString
        val idx = LshIndex.build(
          Seq.empty[(Long, String)].toDF("doc_id", "text"),
          "doc_id", "text", path)
        val reports = chunks.filter(_.nonEmpty).flatMap { c =>
          idx.checkAndAdd(c.toDF("doc_id", "text"), "doc_id", "text")
            .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
        }
        // exactly-once across increments: toMap must not be hiding a
        // pair reported by two different checkAndAdd calls
        assert(reports.map(_._1).distinct.size === reports.size,
          s"case $i $tag: pair reported twice across increments")
        reports.toMap
      }
      val single = run(Seq(rows), "single")
      val bounds = (Seq(0, rows.size) ++ cuts.map(_ min rows.size)).distinct.sorted
      val chunked = run(bounds.sliding(2).map { case Seq(a, b) => rows.slice(a, b) }.toSeq,
        "chunked")
      // every pair is reported exactly once (when its later side
      // arrives), with the same estimated jaccard, no matter where the
      // increment boundaries fall — the production daily-batch contract
      assert(chunked === single, s"case $i cuts=$cuts texts=$texts")
      // and planted exact duplicates are always caught
      rows.groupBy(_._2).values.filter(_.size > 1).foreach { g =>
        val ids = g.map(_._1).sorted
        ids.combinations(2).foreach { case Seq(a, b) =>
          assert(single.get((a, b)).exists(_ == 1.0d),
            s"case $i: planted dup ($a,$b) missing")
        }
      }
    }
  }

  test("IvfIndex incremental adds are chunking-invariant: same assignments, same topK, re-sent ids skipped") {
    import graft.similarity.IvfIndex
    val gen = for {
      nBase <- Gen.choose(6, 10)
      nAdd <- Gen.choose(4, 12)
      vecs <- Gen.listOfN(nBase + nAdd, Gen.listOfN(6,
        Gen.choose(-50, 50).map(_ / 5.0)).map(_.toArray))
      cut <- Gen.choose(1, nAdd - 1)
    } yield (vecs.take(nBase), vecs.drop(nBase), cut)
    samples(gen, 3, 15015L).zipWithIndex.foreach { case ((base, adds, cut), i) =>
      def df(rows: Seq[(Long, Array[Double])]) = rows.toDF("vec_id", "embedding")
      val baseRows = base.zipWithIndex.map { case (v, j) => (j.toLong, v) }
      val addRows = adds.zipWithIndex.map { case (v, j) => ((base.size + j).toLong, v) }
      def state(tag: String, chunks: Seq[Seq[(Long, Array[Double])]]) = {
        val path = java.nio.file.Files
          .createTempDirectory(s"ivf_prop_${i}_$tag").toString
        val idx = IvfIndex.build(df(baseRows), "vec_id", "embedding", path,
          k = 4, iterations = 2)
        chunks.filter(_.nonEmpty).foreach(c => idx.addVectors(df(c)))
        val assigned = idx.assignments
          .selectExpr("vec_id", "cast(cid as long) as cid").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toMap
        val top = idx.topK(df(Seq((999L, adds.head))), k = 5, nProbe = 2)
          .collect().map(r => r.getAs[Long]("vec_id")).toSeq
        (assigned, top)
      }
      val (aOne, tOne) = state("one", Seq(addRows))
      val (aTwo, tTwo) = state("two", Seq(addRows.take(cut), addRows.drop(cut)))
      // same centroids (same base fit) -> identical assignment maps and
      // identical probe results no matter how the adds were chunked
      assert(aOne === aTwo, s"case $i: assignments diverge")
      assert(tOne === tTwo, s"case $i: topK diverges")
      assert(aOne.keySet === (baseRows ++ addRows).map(_._1).toSet)
      // re-sending an already-indexed id must not duplicate its vector
      val path3 = java.nio.file.Files
        .createTempDirectory(s"ivf_prop_${i}_resend").toString
      val idx3 = IvfIndex.build(df(baseRows), "vec_id", "embedding", path3,
        k = 4, iterations = 2)
      idx3.addVectors(df(addRows)); idx3.addVectors(df(addRows))
      assert(idx3.assignments.count() === (baseRows.size + addRows.size).toLong,
        s"case $i: re-sent ids duplicated")
    }
  }

  test("duplicateSpans + cutDuplicateSpans match the window/merge/cut reference on random corpora with planted passages") {
    val w = 4 // window tokens
    val gen = for {
      n <- Gen.choose(3, 7)
      docs <- Gen.listOfN(n, Gen.listOfN(30,
        Gen.choose(0, 200).map(x => s"t$x")).map(_.toVector))
      passage <- Gen.listOfN(6, Gen.choose(300, 305).map(x => s"p$x"))
      insertAt <- Gen.listOfN(2, Gen.choose(0, n - 1))
      posSeed <- Gen.choose(0, 20)
    } yield {
      // plant the same 6-token passage into >=2 docs so some windows
      // exceed the df floor; random tokens from a 200-word space make
      // accidental window repeats possible but rare
      val planted = docs.zipWithIndex.map { case (d, j) =>
        if (insertAt.contains(j)) {
          val at = (posSeed + j) % (d.size - 1)
          (d.take(at) ++ passage ++ d.drop(at)).toVector
        } else d
      }
      planted.map(_.mkString(" "))
    }
    samples(gen, 5, 16016L).zipWithIndex.foreach { case (texts, i) =>
      val df = texts.zipWithIndex.map { case (t, id) => (id.toLong, t) }
        .toDF("doc_id", "text")
      // reference: hash windows are plain token-slice strings; a window
      // is hot when >= 2 DISTINCT docs contain it; flagged positions
      // chain into spans while consecutive gaps are <= w; span covers
      // [minPos, maxPos + w)
      val toks = texts.map(_.split(" ", -1).toVector)
      val winsOf = toks.map(t =>
        if (t.size < w) Seq.empty[(Int, String)]
        else (0 to t.size - w).map(p => (p, t.slice(p, p + w).mkString(" "))))
      val dfCount = winsOf.flatMap(_.map(_._2).distinct)
        .groupBy(identity).view.mapValues(_.size).toMap
      val expSpans = winsOf.zipWithIndex.flatMap { case (ws, id) =>
        val ps = ws.filter(x => dfCount(x._2) >= 2).map(_._1).sorted
        if (ps.isEmpty) Nil
        else {
          val groups = ps.tail.foldLeft(List(List(ps.head))) { (acc, p) =>
            if (p - acc.head.head <= w) (p :: acc.head) :: acc.tail
            else List(p) :: acc
          }.map(_.reverse).reverse
          groups.map(g => (id.toLong, g.head.toLong, g.last.toLong + w,
            g.size.toLong))
        }
      }.toSet
      val gotSpans = Dedup.duplicateSpans(df, "doc_id", "text",
          windowTokens = w, minDocs = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(gotSpans === expSpans, s"case $i texts=$texts")
      // the cut: surviving text = tokens minus every span range
      val cut = Dedup.cutDuplicateSpans(df, "doc_id", "text",
          windowTokens = w, minDocs = 2)
        .collect().map(r => (r.getAs[Long]("doc_id"),
          r.getAs[String]("clean_text"))).toMap
      toks.zipWithIndex.foreach { case (t, id) =>
        val drop = expSpans.filter(_._1 == id.toLong)
          .flatMap(s => s._2.toInt until s._3.toInt).toSet
        val exp = t.indices.filterNot(drop).map(t).mkString(" ")
        assert(cut(id.toLong) === exp, s"case $i doc $id")
      }
    }
  }

  test("semanticNearDup over fixed centroids equals the in-cluster blocker reference, capped and uncapped") {
    val cents = (0L until 4L).map(j =>
      (j, Array.tabulate(6)(d => if (d == j) 1.0 else 0.0))).toArray
    val gen = for {
      n <- Gen.choose(5, 10)
      base <- Gen.listOfN(n, Gen.listOfN(6,
        Gen.choose(1, 100).map(_ / 10.0)).map(_.toArray))
      nNear <- Gen.choose(1, 3)
      nearOf <- Gen.listOfN(nNear, Gen.choose(0, n - 1))
    } yield base ++ nearOf.map(s => base(s).map(_ * 1.02 + 0.01))
    samples(gen, 5, 17017L).zipWithIndex.foreach { case (vecs, i) =>
      val df = vecs.zipWithIndex.map { case (v, id) => (id.toLong, v) }
        .toDF("vec_id", "embedding")
      def cos(a: Array[Double], b: Array[Double]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var j = 0
        while (j < a.length) { d += a(j) * b(j); na += a(j) * a(j)
          nb += b(j) * b(j); j += 1 }
        d / (math.sqrt(na) * math.sqrt(nb))
      }
      // assignment reference: argmax cosine over the centroid table,
      // smallest-cid tie-break
      val cid = vecs.map(v => cents.map { case (c, cv) => (cos(v, cv), -c) }
        .zipWithIndex.maxBy(x => (x._1._1, x._1._2))._2.toLong)
      def expect(cap: Int): Set[(Long, Long)] = {
        val sizes = cid.groupBy(identity).view.mapValues(_.size).toMap
        (for {
          a <- vecs.indices; b <- vecs.indices if a < b
          if cid(a) == cid(b) && sizes(cid(a)) <= cap
          if cos(vecs(a), vecs(b)) >= 0.97
        } yield (a.toLong, b.toLong)).toSet
      }
      Seq(10000, 2).foreach { cap =>
        val rows = Similarity.semanticNearDupWithCentroids(df, "vec_id",
            "embedding", cents, threshold = 0.97, maxClusterSize = cap)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        assert(rows.distinct.size === rows.size, s"case $i cap=$cap: dup pairs")
        assert(rows.toSet === expect(cap), s"case $i cap=$cap")
      }
    }
  }

  test("bloomGate never misses: every batch text present in history is flagged, nulls are not") {
    val gen = for {
      nh <- Gen.choose(3, 30)
      hist <- Gen.listOfN(nh, Gen.listOfN(8,
        Gen.choose(0, 500).map(x => s"h$x")).map(_.mkString(" ")))
      nRepeat <- Gen.choose(1, 8)
      repeatOf <- Gen.listOfN(nRepeat, Gen.choose(0, nh - 1))
      nFresh <- Gen.choose(1, 8)
      fresh <- Gen.listOfN(nFresh, Gen.listOfN(8,
        Gen.choose(0, 500).map(x => s"f$x")).map(_.mkString(" ")))
    } yield (hist, repeatOf.map(hist), fresh)
    samples(gen, 5, 18018L).zipWithIndex.foreach { case ((hist, repeats, fresh), i) =>
      val histDf = hist.zipWithIndex.map { case (t, id) => (id.toLong, t) }
        .toDF("doc_id", "text")
      val batch = (repeats ++ fresh ++ Seq(null.asInstanceOf[String]))
        .zipWithIndex.map { case (t, id) => (1000L + id, t) }
      val got = Dedup.bloomGate(histDf, batch.toDF("doc_id", "text"),
          "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
      batch.foreach { case (id, t) =>
        if (t == null)
          assert(!got(id), s"case $i: null text flagged")
        else if (hist.contains(t))
          assert(got(id), s"case $i: history text missed (false negative)")
      }
    }
  }

  // ---- stateful streaming twins: randomized batch parity ---------------

  test("sessionize stream equals the in-memory gap fold for random streams under random micro-batch chunking") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.Streaming
    import Streaming.SessionEvent
    val gapMs = 10 * 60 * 1000L
    val gen = for {
      n <- Gen.choose(5, 40)
      evs <- Gen.listOfN(n, for {
        u <- Gen.choose(1, 3)
        mins <- Gen.choose(0, 300)
        v <- Gen.choose(1, 9)
      } yield (u.toLong, mins.toLong * 60000L, v.toDouble))
      cuts <- Gen.listOfN(3, Gen.choose(0, n))
    } yield (evs, cuts)
    samples(gen, 3, 12012L).zipWithIndex.foreach { case ((evs, cuts), i) =>
      val base = ts("2024-01-01 00:00:00").getTime
      // events delivered in GLOBAL ts order (nothing late) but split at
      // random micro-batch boundaries — sessions must not care where
      // the batch cuts fall
      val ordered = evs.sortBy(e => (e._2, e._1))
        .map { case (u, off, v) => SessionEvent(u, new java.sql.Timestamp(base + off), v) }
      // reference: per-user linear gap fold
      val exp = ordered.groupBy(_.user_id).flatMap { case (u, es) =>
        val closed = scala.collection.mutable.ListBuffer.empty[(Long, Long, Long, Long, Double)]
        var cur: Option[(Long, Long, Long, Double)] = None
        es.foreach { e =>
          val t = e.ts.getTime
          cur = cur match {
            case Some((s0, e0, n0, v0)) if t - e0 <= gapMs =>
              Some((s0, math.max(e0, t), n0 + 1, v0 + e.value))
            case Some((s0, e0, n0, v0)) =>
              closed += ((u, s0, e0, n0, v0)); Some((t, t, 1L, e.value))
            case None => Some((t, t, 1L, e.value))
          }
        }
        cur.foreach { case (s0, e0, n0, v0) => closed += ((u, s0, e0, n0, v0)) }
        closed
      }.toSet
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[SessionEvent]
      val qn = s"sess_prop_$i"
      val q = Streaming.sessionize(spark, input.toDS(), gapMillis = gapMs)
        .writeStream.format("memory").queryName(qn)
        .outputMode(OutputMode.Append()).start()
      try {
        val bounds = (cuts.map(_ min ordered.size) :+ 0 :+ ordered.size).distinct.sorted
        bounds.sliding(2).foreach { case Seq(a, b) =>
          if (b > a) { input.addData(ordered.slice(a, b): _*); q.processAllAvailable() }
        }
        val far = base + 400L * 60000L * 100
        (1L to 3L).foreach(u => input.addData(SessionEvent(u, new java.sql.Timestamp(far), 0.0)))
        q.processAllAvailable()
        (1L to 3L).foreach(u => input.addData(SessionEvent(u, new java.sql.Timestamp(far * 2), 0.0)))
        q.processAllAvailable()
        val got = spark.table(qn).collect()
          .map(r => (r.getAs[Long]("user_id"),
            r.getAs[java.sql.Timestamp]("session_start").getTime,
            r.getAs[java.sql.Timestamp]("session_end").getTime,
            r.getAs[Long]("n_events"), r.getAs[Double]("total_value")))
          .filter(_._2 < far).toSet
        assert(got === exp, s"case $i evs=$evs cuts=$cuts")
      } finally q.stop()
    }
  }

  test("funnelStream output is arrival-order-invariant and equals the (ts, event_id)-ordered batch fold") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.Streaming
    import Streaming.FunnelEvent
    val steps = Seq("a", "b", "c")
    val gen = for {
      n <- Gen.choose(6, 30)
      evs <- Gen.listOfN(n, for {
        u <- Gen.choose(1, 3)
        mins <- Gen.choose(0, 50)
        st <- Gen.oneOf("a", "b", "c", "x") // x = non-step noise
      } yield (u.toLong, mins.toLong * 60000L, st))
      shuffleSeed <- Gen.choose(0L, 1000L)
    } yield (evs, shuffleSeed)
    samples(gen, 3, 13013L).zipWithIndex.foreach { case ((evs0, shuffleSeed), i) =>
      val base = ts("2024-01-01 00:00:00").getTime
      val evs = evs0.zipWithIndex.map { case ((u, off, st), id) =>
        FunnelEvent(u, new java.sql.Timestamp(base + off), id.toLong, st)
      }
      // reference: per-user fold over (ts, event_id)-sorted step events
      val stepIdx = steps.zipWithIndex.toMap
      val exp = evs.filter(e => stepIdx.contains(e.event_type))
        .groupBy(_.user_id).flatMap { case (u, es) =>
          val times = Array.fill[Option[Long]](steps.size)(None)
          es.sortBy(e => (e.ts.getTime, e.event_id)).flatMap { e =>
            val k = stepIdx(e.event_type); val t = e.ts.getTime
            val qual = k == 0 || times(k - 1).exists(_ < t)
            if (qual && times(k).forall(t < _)) {
              times(k) = Some(t); Some((u, k + 1, e.event_type, t))
            } else None
          }
        }.toSet
      // deliver in a DIFFERENT random order than event time (disorder
      // is legal inside the watermark horizon) — output must not care
      val rnd = new scala.util.Random(shuffleSeed)
      val shuffled = rnd.shuffle(evs)
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[FunnelEvent]
      val qn = s"funnel_prop_$i"
      val q = Streaming.funnelStream(spark, input.toDS(), steps,
          watermarkDelay = "2 hours")
        .writeStream.format("memory").queryName(qn)
        .outputMode(OutputMode.Append()).start()
      try {
        val (h1, h2) = shuffled.splitAt(shuffled.size / 2)
        if (h1.nonEmpty) { input.addData(h1: _*); q.processAllAvailable() }
        if (h2.nonEmpty) { input.addData(h2: _*); q.processAllAvailable() }
        val far = base + 600L * 60000L * 100
        (1L to 3L).foreach(u => input.addData(
          FunnelEvent(u, new java.sql.Timestamp(far), 100000L + u, "x")))
        q.processAllAvailable()
        (1L to 3L).foreach(u => input.addData(
          FunnelEvent(u, new java.sql.Timestamp(far * 2), 200000L + u, "x")))
        q.processAllAvailable()
        val got = spark.table(qn).collect()
          .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("step"),
            r.getAs[String]("event_type"),
            r.getAs[java.sql.Timestamp]("step_ts").getTime)).toSet
        assert(got === exp, s"case $i evs=$evs0 seed=$shuffleSeed")
      } finally q.stop()
    }
  }

  test("funnelStream with a TTL equals the event-time reset fold, independent of delivery order and chunking") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.Streaming
    import Streaming.FunnelEvent
    val steps = Seq("a", "b", "c")
    val ttlMs = 10L * 60000L // 10 min over a ~50 min event range
    val gen = for {
      n <- Gen.choose(6, 30)
      evs <- Gen.listOfN(n, for {
        u <- Gen.choose(1, 3)
        mins <- Gen.choose(0, 50)
        st <- Gen.oneOf("a", "b", "c", "x")
      } yield (u.toLong, mins.toLong * 60000L, st))
      shuffleSeed <- Gen.choose(0L, 1000L)
    } yield (evs, shuffleSeed)
    samples(gen, 3, 17017L).zipWithIndex.foreach { case ((evs0, shuffleSeed), i) =>
      val base = ts("2024-01-01 00:00:00").getTime
      val evs = evs0.zipWithIndex.map { case ((u, off, st), id) =>
        FunnelEvent(u, new java.sql.Timestamp(base + off), id.toLong, st)
      }
      // reference: the documented TTL contract — fold step events in
      // (ts, event_id) order, resetting the chain whenever the gap
      // from the previously folded step event reaches the TTL
      val stepIdx = steps.zipWithIndex.toMap
      val exp = evs.filter(e => stepIdx.contains(e.event_type))
        .groupBy(_.user_id).flatMap { case (u, es) =>
          val times = Array.fill[Option[Long]](steps.size)(None)
          var last = Long.MinValue
          es.sortBy(e => (e.ts.getTime, e.event_id)).flatMap { e =>
            val t = e.ts.getTime
            if (last != Long.MinValue && t - last >= ttlMs)
              times.indices.foreach(times(_) = None)
            last = t
            val k = stepIdx(e.event_type)
            val qual = k == 0 || times(k - 1).exists(_ < t)
            if (qual && times(k).forall(t < _)) {
              times(k) = Some(t); Some((u, k + 1, e.event_type, t))
            } else None
          }
        }.toSet
      val rnd = new scala.util.Random(shuffleSeed)
      val shuffled = rnd.shuffle(evs)
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[FunnelEvent]
      val qn = s"funnel_ttl_prop_$i"
      val q = Streaming.funnelStream(spark, input.toDS(), steps,
          watermarkDelay = "2 hours", stateTtlMillis = Some(ttlMs))
        .writeStream.format("memory").queryName(qn)
        .outputMode(OutputMode.Append()).start()
      try {
        val (h1, h2) = shuffled.splitAt(shuffled.size / 2)
        if (h1.nonEmpty) { input.addData(h1: _*); q.processAllAvailable() }
        if (h2.nonEmpty) { input.addData(h2: _*); q.processAllAvailable() }
        val far = base + 600L * 60000L * 100
        (1L to 3L).foreach(u => input.addData(
          FunnelEvent(u, new java.sql.Timestamp(far), 100000L + u, "x")))
        q.processAllAvailable()
        (1L to 3L).foreach(u => input.addData(
          FunnelEvent(u, new java.sql.Timestamp(far * 2), 200000L + u, "x")))
        q.processAllAvailable()
        val got = spark.table(qn).collect()
          .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("step"),
            r.getAs[String]("event_type"),
            r.getAs[java.sql.Timestamp]("step_ts").getTime)).toSet
        assert(got === exp, s"case $i evs=$evs0 seed=$shuffleSeed")
        // and every chain eventually leaves the store (the GC half)
        val st = q.lastProgress.stateOperators
        assert(st.isEmpty || st(0).numRowsTotal === 0L,
          s"case $i: TTL'd chains still in the store")
      } finally q.stop()
    }
  }

  test("gapReportStream's final per-key report equals the linear gap fold, independent of micro-batch chunking") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.Streaming
    import Streaming.GapEvent
    val thrSec = 120L
    val gen = for {
      n <- Gen.choose(6, 40)
      evs <- Gen.listOfN(n, for {
        k <- Gen.choose(1, 3)
        secs <- Gen.choose(0, 3000)
      } yield (k.toLong, secs.toLong * 1000L))
      cuts <- Gen.listOfN(3, Gen.choose(0, n))
    } yield (evs, cuts)
    samples(gen, 3, 20020L).zipWithIndex.foreach { case ((evs, cuts), i) =>
      val base = ts("2024-01-01 00:00:00").getTime
      val ordered = evs.sortBy(_._2)
        .map { case (k, off) => GapEvent(k, new java.sql.Timestamp(base + off)) }
      // reference: per-key fold over in-order microsecond gaps
      val exp = ordered.groupBy(_.key).map { case (k, es) =>
        val uss = es.map(_.ts.getTime * 1000L)
        val gaps = uss.zip(uss.drop(1)).map { case (a, b) => b - a }
        (k, (es.size.toLong,
          if (gaps.isEmpty) None else Some(gaps.max),
          gaps.count(_ > thrSec * 1000000L).toLong, 0L))
      }
      def run(bounds: Seq[Int], tag: String): Map[Long, (Long, Option[Long], Long, Long)] = {
        implicit val sqlCtx = spark.sqlContext
        val input = MemoryStream[GapEvent]
        val qn = s"gap_prop_${i}_$tag"
        val q = Streaming.gapReportStream(spark, input.toDS(), thrSec)
          .writeStream.format("memory").queryName(qn)
          .outputMode(OutputMode.Update()).start()
        try {
          bounds.sliding(2).foreach { case Seq(a, b) =>
            if (b > a) { input.addData(ordered.slice(a, b): _*); q.processAllAvailable() }
          }
          // Update mode: the report with the highest n_obs per key is
          // the final state
          spark.table(qn).collect()
            .map(r => (r.getAs[Long]("key"), (r.getAs[Long]("n_obs"),
              Option(r.getAs[Any]("max_gap_us")).map(_.asInstanceOf[Long]),
              r.getAs[Long]("n_gaps_over"), r.getAs[Long]("n_late"))))
            .groupBy(_._1).map { case (k, g) => (k, g.map(_._2).maxBy(_._1)) }
        } finally q.stop()
      }
      val one = run(Seq(0, ordered.size), "one")
      val many = run((Seq(0, ordered.size) ++ cuts.map(_ min ordered.size))
        .distinct.sorted, "many")
      assert(one === exp, s"case $i evs=$evs")
      assert(many === exp, s"case $i cuts=$cuts evs=$evs")
    }
  }

  // ---- minhash LSH: planted duplicates + verified-output exactness ---

  private val genCorpus: Gen[(List[String], List[Int])] = for {
    n <- Gen.choose(6, 14)
    vocabDocs <- Gen.listOfN(n, Gen.listOfN(25,
      Gen.choose(0, 49).map(w => s"w$w")).map(_.mkString(" ")))
    nDup <- Gen.choose(1, 3)
    dupOf <- Gen.listOfN(nDup, Gen.choose(0, n - 1))
  } yield (vocabDocs, dupOf)

  test("diurnalPredictedStream equals the windowed-pick fold for random series and random occ windows") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.Streaming
    // occ is RANDOM (not data-derived) — the stream takes it as a
    // prefit input, so the property covers window placements the
    // calibration formula would never produce. Bounds stay in [0, 24)
    // with half <= 8 so the documented 3-day candidacy is complete and
    // the in-memory reference may scan all events.
    val dayUsL = 86400000000L
    val gen = for {
      n <- Gen.choose(10, 40)
      evs <- Gen.listOfN(n, for {
        k <- Gen.choose(1, 2)
        d <- Gen.choose(0, 3)
        min <- Gen.choose(0, 1439)
        v <- Gen.choose(1, 5)
      } yield (k.toLong, d, min, v.toDouble))
      occ1m <- Gen.choose(0, 23); occ1x <- Gen.choose(0, 23)
      occ2m <- Gen.choose(0, 23); occ2x <- Gen.choose(0, 23)
      half <- Gen.oneOf(2, 4, 8)
    } yield (evs, Map(1L -> (occ1m + 0.5, occ1x + 0.5),
      2L -> (occ2m + 0.5, occ2x + 0.5)), half)
    samples(gen, 4, 31013L).zipWithIndex.foreach { case ((evs, occ, half), i) =>
      val baseUs = ts("2024-01-01 00:00:00").getTime * 1000L
      val events = evs.map { case (k, d, min, v) =>
        Streaming.DiurnalEvent(k,
          new java.sql.Timestamp((baseUs + d * dayUsL + min * 60000000L) / 1000L), v)
      }
      def usOf(e: Streaming.DiurnalEvent): Long = e.ts.getTime * 1000L
      // in-memory reference: documented contract — for each OBSERVED
      // (key, day), conditional picks over the occ±half windows with
      // (v, earliest-us) tie-breaks, inverted days dropped
      val exp = (for {
        k <- occ.keys.toSeq
        es = events.filter(_.key == k)
        day <- es.map(e => usOf(e) - java.lang.Math.floorMod(usOf(e), dayUsL)).distinct
      } yield {
        def win(occH: Double) = (
          day + math.floor((occH - half) * 3600e6).toLong,
          day + math.floor((occH + half) * 3600e6).toLong)
        val (mLo, mHi) = win(occ(k)._1)
        val (xLo, xHi) = win(occ(k)._2)
        val inMin = es.filter(e => usOf(e) >= mLo && usOf(e) <= mHi)
        val inMax = es.filter(e => usOf(e) >= xLo && usOf(e) <= xHi)
        val mn = if (inMin.isEmpty) None
          else Some(inMin.minBy(e => (e.value, usOf(e))))
        val mx = if (inMax.isEmpty) None
          else Some(inMax.minBy(e => (-e.value, usOf(e))))
        (k, day, mn, mx)
      }).filter { case (_, _, mn, mx) =>
        !(mn.isDefined && mx.isDefined && mn.get.value > mx.get.value)
      }.map { case (k, day, mn, mx) =>
        (k, day / 1000L, mn.map(_.value), mn.map(usOf), mx.map(_.value), mx.map(usOf))
      }.toSet
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[Streaming.DiurnalEvent]
      val qn = s"diurnal_prop_$i"
      val q = Streaming.diurnalPredictedStream(spark, input.toDS(), occ,
          halfWindowHours = half, watermarkDelay = "1 day")
        .writeStream.format("memory").queryName(qn)
        .outputMode(OutputMode.Append()).start()
      try {
        // day-ordered chunks, shuffled inside (disorder within watermark)
        val shuf = new scala.util.Random(500 + i)
        events.groupBy(e => e.ts.getTime / 86400000L).toSeq.sortBy(_._1)
          .foreach { case (_, c) =>
            input.addData(shuf.shuffle(c)); q.processAllAvailable()
          }
        val farMs = (baseUs / 1000L) + 100L * 86400000L
        occ.keys.foreach(k => input.addData(
          Streaming.DiurnalEvent(k, new java.sql.Timestamp(farMs), 0.0)))
        q.processAllAvailable()
        input.addData(Streaming.DiurnalEvent(1L,
          new java.sql.Timestamp(farMs + 1000L), 0.0))
        q.processAllAvailable()
        val got = spark.table(qn).collect()
          .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
            Option(r.get(2)).map(_.asInstanceOf[Double]),
            Option(r.get(3)).map(_.asInstanceOf[java.sql.Timestamp].getTime * 1000L),
            Option(r.get(4)).map(_.asInstanceOf[Double]),
            Option(r.get(5)).map(_.asInstanceOf[java.sql.Timestamp].getTime * 1000L)))
          .filter(_._2 < farMs).toSet
        assert(got === exp,
          s"case $i half=$half occ=$occ: extra=${got -- exp} missing=${exp -- got}")
      } finally q.stop()
    }
  }

  test("batch windowed diurnal picks equal the in-memory windowed-pick reference, with ties and null values") {
    import graft.operators.Diurnal
    // every form of the one windowed body against the documented
    // contract: per OBSERVED (key, day), the earliest min of the non-null
    // values in the min window, then the earliest max in the max window
    // (starting at the min pick for the min-first forms). Hourly slots
    // and values 1-5 force duplicate timestamps and value ties; about
    // one value in six is null. The predicted forms take their per-key
    // hours from predictedOccurrences, the shared calibration step.
    val dayUsL = 86400000000L
    val gen = for {
      n <- Gen.choose(10, 40)
      evs <- Gen.listOfN(n, for {
        k <- Gen.choose(1, 2)
        d <- Gen.choose(0, 3)
        h <- Gen.choose(0, 23)
        v <- Gen.choose(0, 5)
      } yield (k.toLong, d, h, if (v == 0) None else Some(v.toDouble)))
      half <- Gen.oneOf(2, 4, 8)
    } yield (evs, half)
    val baseUs = ts("2024-01-01 00:00:00").getTime * 1000L
    type Ev = (Long, Long, Option[Double]) // key, us, value
    type Out = (Long, Long, Option[Double], Option[Long], Option[Double], Option[Long])
    def earliest(es: Seq[Ev], byMax: Boolean): Option[Ev] = {
      val c = es.filter(_._3.isDefined)
      if (c.isEmpty) None
      else Some(c.minBy(e => (if (byMax) -e._3.get else e._3.get, e._2)))
    }
    def reference(events: Seq[Ev], minWin: (Long, Long) => Seq[Ev],
                  maxWin: (Long, Long, Option[Ev]) => Seq[Ev],
                  keep: (Option[Ev], Option[Ev]) => Boolean): Set[Out] =
      (for {
        (k, es) <- events.groupBy(_._1).toSeq
        day <- es.map(e => e._2 - java.lang.Math.floorMod(e._2, dayUsL)).distinct
        mn = earliest(minWin(k, day), byMax = false)
        mx = earliest(maxWin(k, day, mn), byMax = true)
        if keep(mn, mx)
      } yield (k, day / 1000L, mn.map(_._3.get), mn.map(_._2),
        mx.map(_._3.get), mx.map(_._2))).toSet
    def run(df: org.apache.spark.sql.DataFrame): Set[Out] =
      df.collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime,
        Option(r.get(2)).map(_.asInstanceOf[Double]),
        Option(r.getTimestamp(3)).map(_.getTime * 1000L),
        Option(r.get(4)).map(_.asInstanceOf[Double]),
        Option(r.getTimestamp(5)).map(_.getTime * 1000L))).toSet
    samples(gen, 6, 41017L).zipWithIndex.foreach { case ((evs, half), i) =>
      val events: Seq[Ev] = evs.map { case (k, d, h, v) =>
        (k, baseUs + d * dayUsL + h * 3600000000L, v) }
      val df = events.map { case (k, us, v) => (k, new java.sql.Timestamp(us / 1000L), v) }
        .toDF("k", "t", "v")
      def in(k: Long, lo: Long, hi: Long) =
        events.filter(e => e._1 == k && e._2 >= lo && e._2 <= hi)
      def ownDay(k: Long, day: Long) = in(k, day, day + dayUsL - 1)
      val minFirstKeep = (mn: Option[Ev], mx: Option[Ev]) =>
        mn.isDefined && !(mn.get._3.get > mx.get._3.get)
      val nextDay = reference(events, ownDay,
        (k, _, mn) => mn.toSeq.flatMap(m => in(k, m._2, m._2 + 18 * 3600000000L)),
        minFirstKeep)
      assert(run(Diurnal.extremaMinFirst(df, Seq("k"), "t", "v")) === nextDay,
        s"case $i minFirst")
      val inDay = reference(events, ownDay,
        (k, day, mn) => mn.toSeq.flatMap(m => in(k, m._2, day + dayUsL - 1)),
        minFirstKeep)
      assert(run(Diurnal.extremaMinFirstInDay(df, Seq("k"), "t", "v")) === inDay,
        s"case $i minFirstInDay")
      val calibEnd = "2024-01-03"
      val occ = Diurnal.predictedOccurrences(df, Seq("k"), "t", "v", calibEnd)
        .collect().map(r => r.getLong(0) ->
          ((Option(r.get(1)).map(_.asInstanceOf[Double]),
            Option(r.get(2)).map(_.asInstanceOf[Double])))).toMap
      def win(day: Long, occH: Option[Double]) = occH.map(h => (
        day + math.floor((h - half) * 3600e6).toLong,
        day + math.floor((h + half) * 3600e6).toLong))
      Seq(false, true).foreach { minFirst =>
        val exp = reference(events.filter(e => occ.contains(e._1)),
          (k, day) => win(day, occ(k)._1).toSeq.flatMap { case (lo, hi) => in(k, lo, hi) },
          (k, day, mn) => win(day, occ(k)._2).toSeq.flatMap { case (lo, hi) =>
            in(k, if (minFirst) mn.fold(lo)(m => math.max(lo, m._2)) else lo, hi) },
          (mn, mx) => !(mn.isDefined && mx.isDefined && mn.get._3.get > mx.get._3.get))
        val got = run(Diurnal.extremaPredicted(df, Seq("k"), "t", "v", calibEnd,
          halfWindowHours = half, minFirst = minFirst))
        assert(got === exp, s"case $i half=$half minFirst=$minFirst: " +
          s"extra=${got -- exp} missing=${exp -- got}")
      }
    }
  }

  test("minhashLsh finds every planted exact duplicate; every emitted jaccard is the true shingle jaccard") {
    samples(genCorpus, 6, 4004L).zipWithIndex.foreach { case ((texts, dupOf), i) =>
      val n = texts.size
      val docs = (texts.zipWithIndex.map { case (t, id) => (id.toLong, t) } ++
        dupOf.zipWithIndex.map { case (src, j) => ((n + j).toLong, texts(src)) })
        .toDF("doc_id", "text")
      val out = Dedup.minhashLsh(docs, "doc_id", "text", threshold = 0.7)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      // reference 3-word-shingle sets (split -1 semantics, short-doc pad)
      def shingles(t: String): Set[String] = {
        val w = t.split(" ", -1)
        if (w.length < 3) Set(t)
        else (0 to w.length - 3).map(k => w.slice(k, k + 3).mkString(" ")).toSet
      }
      val all = texts ++ dupOf.map(texts)
      def jac(a: Int, b: Int): Double = {
        val (sa, sb) = (shingles(all(a)), shingles(all(b)))
        sa.intersect(sb).size.toDouble / sa.union(sb).size
      }
      // recall on planted exact duplicates: identical text shares every
      // band, so the pair is guaranteed a candidate and jaccard 1.0
      dupOf.zipWithIndex.foreach { case (src, j) =>
        val pair = (src.toLong, (n + j).toLong)
        assert(out.get(pair).exists(_ == 1.0d),
          s"case $i: planted duplicate $pair missing from $out")
      }
      // soundness: every emitted pair carries the TRUE shingle jaccard
      // (hash-set jaccard == string-set jaccard barring collision) and
      // respects the threshold
      out.foreach { case ((a, b), jv) =>
        assert(jv >= 0.7, s"case $i: pair ($a,$b) below threshold")
        assert(math.abs(jv - jac(a.toInt, b.toInt)) < 1e-9,
          s"case $i: pair ($a,$b) jaccard $jv != reference ${jac(a.toInt, b.toInt)}")
      }
    }
  }

  // ---- grid-cell radius join vs the brute-force pair scan ------------

  test("stationDistancesWithin equals the brute-force radius scan on random networks") {
    // random station clouds spanning many grid cells, mixed signs,
    // coordinates often NEAR cell edges (quantized to 0.25 = d/4) so
    // adjacent-cell pairs and exact-boundary distances get exercised
    val genNet: Gen[List[(Double, Double)]] = for {
      n <- Gen.choose(2, 60)
      pt = for {
        x <- Gen.choose(-16, 16)
        y <- Gen.choose(-16, 16)
      } yield (x * 0.25, y * 0.25)
      pts <- Gen.listOfN(n, pt)
    } yield pts
    val d = 1.0
    samples(genNet, 6, 7001L).zipWithIndex.foreach { case (pts, i) =>
      val df = pts.zipWithIndex
        .map { case ((mn, me), j) => (f"s$j%03d", mn, me) }
        .toDF("k", "dnorth", "deast")
        .withColumn("ts", lit("2024-01-10 00:00:00").cast("timestamp"))
      val got = graft.operators.Gps.stationDistancesWithin(df, Seq("k"),
          "ts", "dnorth", "deast", "2024-01-01", "2024-02-01", d)
        .collect().map(r => ((r.getString(0), r.getString(1)),
          r.getDouble(2))).toMap
      val keys = pts.indices.map(j => f"s$j%03d")
      val ref = (for {
        a <- pts.indices; b <- (a + 1) until pts.length
        dist = math.sqrt(math.pow(pts(a)._1 - pts(b)._1, 2) +
          math.pow(pts(a)._2 - pts(b)._2, 2))
        if dist <= d
      } yield (keys(a), keys(b)) -> dist).toMap
      // exactly-once: duplicate keys in the Spark result would have
      // collapsed in toMap — compare sizes against the raw row count
      val n = graft.operators.Gps.stationDistancesWithin(df, Seq("k"),
        "ts", "dnorth", "deast", "2024-01-01", "2024-02-01", d).count()
      assert(n.toInt === got.size, s"case $i: duplicate pairs emitted")
      assert(got.keySet === ref.keySet,
        s"case $i: extra=${got.keySet -- ref.keySet} missing=${ref.keySet -- got.keySet}")
      got.foreach { case (p, dist) =>
        assert(math.abs(dist - ref(p)) < 1e-9, s"case $i: $p distance")
      }
    }
  }

  test("curationPipeline equals the in-memory six-stage fold on random corpora") {
    // random corpora with planted structure: a small text pool (so
    // exact dups occur), digit-heavy words (so the gate binds), null
    // texts, and a % 5 bench slice (so decontamination binds). The
    // reference is a direct fold of the documented stage contracts —
    // Knuth-hash uniforms, keep-one by min gated id, distinct-shingle
    // overlap, windowed budget rate, id-ordered exclusive offsets.
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsi", "zeta",
      "42", "7", "x99", "blue")
    val genCorpus: Gen[List[(Long, String, Option[String])]] = for {
      n <- Gen.choose(5, 60)
      nPool <- Gen.choose(2, 12)
      pool <- Gen.listOfN(nPool, for {
        len <- Gen.choose(0, 8)
        ws <- Gen.listOfN(len, Gen.oneOf(vocab))
      } yield ws.mkString(" "))
      picks <- Gen.listOfN(n, for {
        srcI <- Gen.choose(0, 2)
        pi <- Gen.choose(0, nPool - 1)
        isNull <- Gen.frequency((9, Gen.const(false)), (1, Gen.const(true)))
      } yield (srcI, pi, isNull))
    } yield picks.zipWithIndex.map { case ((s, p, nl), i) =>
      (i.toLong, s"src$s", if (nl) None else Some(pool(p)))
    }

    val (minT, maxDR, shN, minOv) = (2, 0.3, 2, 2)
    val (sampR, budT, packC) = (0.6, 20L, 8)
    def knuthU(id: Long): Double = {
      val idn = ((id % 4294967296L) + 4294967296L) % 4294967296L
      ((BigInt(idn) * BigInt(2654435761L)) % BigInt(4294967296L)).toDouble /
        4294967296.0
    }
    def nToks(t: String): Int = t.trim.split("\\s+").length
    def gOf(t: Option[String]): Boolean = t.exists { s =>
      nToks(s) >= minT && s.nonEmpty &&
        s.count(c => c >= '0' && c <= '9').toDouble / s.length <= maxDR
    }
    def shingleSet(t: String): Set[String] = {
      val w = t.split(" ")
      if (w.length <= shN) Set(w.mkString(" "))
      else w.sliding(shN).map(_.mkString(" ")).toSet
    }

    samples(genCorpus, 6, 9001L).zipWithIndex.foreach { case (corpus, ci) =>
      val df = corpus.map { case (id, s, t) => (id, s, t.orNull) }
        .toDF("doc_id", "source", "text")
      val bench = df.filter($"doc_id" % 5 === 0)
      val got = graft.mix.Mix.curationPipeline(df, "doc_id", "source",
          "text", bench, "text", minTokens = minT, maxDigitRatio = maxDR,
          shingleN = shN, minOverlap = minOv, sampleRate = sampR,
          budgetTokens = budT, packCapacity = packC)
        .collect().map(r => r.getAs[String]("source") -> r).toMap

      // in-memory fold
      val benchSh = corpus.filter(d => d._1 % 5 == 0)
        .flatMap(_._3.map(shingleSet)).flatten.toSet
      case class D(id: Long, src: String, t: Option[String]) {
        val toks: Long = t.map(nToks(_).toLong).getOrElse(1L)
        val g: Boolean = gOf(t)
      }
      val ds = corpus.map(d => D(d._1, d._2, d._3))
      val keepId = ds.filter(_.g).groupBy(_.t.get)
        .map { case (t, v) => t -> v.map(_.id).min }
      val flags = ds.map { d =>
        val ded = d.g && keepId(d.t.get) == d.id
        val contam = d.t.exists(s => (shingleSet(s) & benchSh).size >= minOv)
        val cl = ded && !contam
        val samp = cl && knuthU(d.id) < sampR
        (d, ded, cl, samp)
      }
      val bySrc = flags.groupBy(_._1.src)
      bySrc.foreach { case (src, rows) =>
        val sampToks = rows.filter(_._4).map(_._1.toks).sum
        val rate =
          if (sampToks == 0) -1.0 // null rate: nothing budgeted
          else math.min(1.0, budT.toDouble / sampToks)
        val bud = rows.filter(r => r._4 && knuthU(r._1.id) < rate)
          .map(_._1).sortBy(_.id)
        val offs = bud.scanLeft(0L)(_ + _.toks).init
        val r = got(src)
        assert(r.getAs[Long]("n_total") === rows.size.toLong, s"c$ci $src total")
        assert(r.getAs[Long]("n_gated") === rows.count(_._1.g).toLong,
          s"c$ci $src gated")
        assert(r.getAs[Long]("n_deduped") === rows.count(_._2).toLong,
          s"c$ci $src deduped")
        assert(r.getAs[Long]("n_clean") === rows.count(_._3).toLong,
          s"c$ci $src clean")
        assert(r.getAs[Long]("n_sampled") === rows.count(_._4).toLong,
          s"c$ci $src sampled")
        assert(r.getAs[Long]("n_budgeted") === bud.size.toLong,
          s"c$ci $src budgeted")
        assert(r.getAs[Long]("toks_budgeted") === bud.map(_.toks).sum,
          s"c$ci $src toks")
        assert(r.getAs[Long]("sum_tok_offset") === offs.sum,
          s"c$ci $src sum_off")
        assert(r.getAs[Long]("n_packs") ===
          (if (bud.isEmpty) 0L else offs.map(_ / packC).max + 1L),
          s"c$ci $src packs")
      }
      assert(got.keySet === bySrc.keySet, s"c$ci sources")
    }
  }
}

object PropertySpec {
  case class Row3(key: Int, tsMs: Long, v: Double)

  // small ranges on purpose: collisions in (key, ts) exercise the
  // documented tie-breaks, sparse keys exercise the no-match path
  val genSeries: Gen[(List[Row3], List[Row3])] = for {
    nL <- Gen.choose(1, 40)
    nR <- Gen.choose(0, 40)
    mkRow = for {
      k <- Gen.choose(0, 2)
      t <- Gen.choose(0L, 30L)
      v <- Gen.choose(1, 9)
    } yield Row3(k, t * 1000L, v.toDouble)
    l <- Gen.listOfN(nL, mkRow)
    r <- Gen.listOfN(nR, mkRow)
  } yield (l, r)

  /** n deterministic samples of g (seeded; no filters → total). */
  def samples[A](g: Gen[A], n: Int, seed0: Long): Seq[A] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(seed0 + i)))

  def tsOf(ms: Long) = new java.sql.Timestamp(ms)
}
