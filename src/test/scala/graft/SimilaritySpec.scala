package graft

import org.apache.spark.sql.functions._
import graft.similarity.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  // 8-dim corpus: id 1 == query direction, id 2 close, id 3 orthogonal-ish
  private val corpus = Seq(
    (1L, Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f)),
    (2L, Array(1f, 0.1f, 0f, 0f, 1f, 0f, 0f, 0.1f)),
    (3L, Array(0f, 1f, 0f, 1f, 0f, 0f, 1f, 0f)),
    (4L, Array(0f, 0f, 1f, 0f, 0f, 1f, 0f, 0f))
  ).toDF("vec_id", "embedding")
  private val query = Seq((0L, Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f)))
    .toDF("vec_id", "embedding")

  test("brute force top-k ranks by exact cosine") {
    val out = Similarity.bruteForceTopK(corpus, "vec_id", "embedding", query, 2)
      .collect()
    assert(out.map(_.getAs[Long]("vec_id")).toSeq === Seq(1L, 2L))
    assert(math.abs(out.head.getAs[Double]("cosine") - 1.0) < 1e-9)
  }

  test("hammingTopK states the exact (hamming, id) top-k of the brute sketch ranking") {
    import spark.implicits._
    val texts = (0 until 30).map { i =>
      (0 until 40).map(j => s"w${(i * 5 + j * 3) % 23}").mkString(" ")
    }
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val fps = df.select(col("doc_id"), org.apache.spark.sql.graft
        .TextExpressions.portableSimhash64(col("text")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val q = fps(0L)
    val expected = fps.toSeq.filter(_._1 != 0L)
      .map { case (id, f) =>
        (id, (java.lang.Long.bitCount(f(0) ^ q(0)) +
          java.lang.Long.bitCount(f(1) ^ q(1))).toLong)
      }
      .sortBy { case (id, d) => (d, id) }.take(5)
    val got = Similarity.hammingTopK(df.filter($"doc_id" =!= 0L), "doc_id",
        "text", df.filter($"doc_id" === 0L), "text", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === expected)
    // query-frame contract (ADVICE r10): a multi-row or empty/null-text
    // query is an error, not an arbitrary pick or a silent empty result
    intercept[IllegalArgumentException] {
      Similarity.hammingTopK(df.filter($"doc_id" =!= 0L), "doc_id", "text",
        df.filter($"doc_id" < 2L), "text", 5)
    }
    intercept[IllegalArgumentException] {
      Similarity.hammingTopK(df.filter($"doc_id" =!= 0L), "doc_id", "text",
        Seq((99L, null.asInstanceOf[String])).toDF("doc_id", "text"),
        "text", 5)
    }
  }

  test("ann_ivf_det fixed-centroid IVF: probing ALL buckets recovers brute force exactly") {
    // with the fit removed (literal centroids), the bucket prune is the
    // ONLY approximation in the chain — probing every bucket must
    // reproduce the exact top-k, bit for bit
    val cents = graft.queries.SimilarityQueries.detCentroids
      .map { case (cid, v) => (cid, v.toArray) }.toDF("cid", "embedding")
    val dim64 = (id: Long, hot: Int) =>
      (id, Array.tabulate(64)(d => if (d == hot) 1f else 0.01f * ((d + id) % 5)))
    val corpus64 = (1L to 40L).map(i => dim64(i, (i % 16).toInt * 4)).toDF("vec_id", "embedding")
    val query64 = Seq(dim64(0L, 8)).toDF("vec_id", "embedding")
    val all = Similarity.ivfTopK(corpus64, "vec_id", "embedding",
      cents, "cid", query64, 10, nProbe = 16).collect()
    val brute = Similarity.bruteForceTopK(corpus64, "vec_id", "embedding",
      query64, 10).collect()
    assert(all.map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      brute.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    // and a 4-probe run returns a SUBSET of buckets' vectors ranked
    // identically within the probed candidates (here the hot query
    // bucket is probed, so the true top result survives the prune)
    val pruned = Similarity.ivfTopK(corpus64, "vec_id", "embedding",
      cents, "cid", query64, 10, nProbe = 4).collect()
    assert(pruned.head.getLong(0) === brute.head.getLong(0))
  }

  test("embeddingNearDup carried-payload join equals the brute-force band-sharing pair scan") {
    import org.apache.spark.sql.functions._
    // 40 vectors in 4 loose clusters so band collisions and in-threshold
    // pairs arise; exercises the exactly-once first-matching-band dedup
    val vecs = (1 to 40).map { i =>
      val c = i % 4
      (i.toLong, Array.tabulate(8)(d =>
        (if (d == c * 2) 1f else 0.1f) + 0.01f * ((i * 7 + d) % 5)))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val out = Similarity.embeddingNearDup(df, "vec_id", "embedding",
        dim = 8, threshold = 0.8, numBits = 16, bitsPerBand = 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(out.map(_._1).distinct.length === out.length, "pair repeated")
    // brute force from the same band projection + exact cosine
    val bands = Similarity.lshBands(df, "vec_id", "embedding", 8, 16, 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1).map { case (k, v) =>
        k -> v.sortBy(_._2).map(_._3).toSeq }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val dot = ad.zip(bd).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum))
    }
    val vmap = vecs.toMap
    val brute = (for {
      i <- vecs.map(_._1); j <- vecs.map(_._1) if i < j
      if bands(i).zip(bands(j)).exists { case (x, y) => x == y }
      c = cos(vmap(i), vmap(j)) if c >= 0.8
    } yield (i, j)).toSet
    assert(out.map(_._1).toSet === brute)
    assert(brute.nonEmpty, "fixture must produce in-threshold pairs")
  }

  test("zero-norm vectors yield null cosine, not a job abort") {
    val z = Seq((9L, Array(0f, 0f, 0f, 0f, 0f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(corpus.union(z), "vec_id", "embedding", query, 10)
      .collect()
    assert(out.length === 5)
    assert(out.exists(r => r.getAs[Long]("vec_id") == 9L && r.isNullAt(1)))
  }

  test("HyperplaneBandValues matches the per-plane vectorDot formulation bit-for-bit") {
    import org.apache.spark.sql.graft.VectorExpressions
    val numBits = 16; val bitsPerBand = 4; val dim = 8
    // randomized vectors + a length-mismatched row (bit 0 contract)
    val rnd = new scala.util.Random(7)
    val rows = (1L to 40L).map(i =>
      (i, Array.fill(dim)(rnd.nextDouble() * 2 - 1))) :+
      (99L, Array(1.0, 2.0)) // wrong dim -> all-zero bands
    val df = rows.toDF("vec_id", "embedding")
    // the replaced formulation: one when(vectorDot > 0) column per bit
    val planesRnd = new scala.util.Random(42L)
    val planeMats = Seq.fill(numBits)(Seq.fill(dim)(
      if (planesRnd.nextBoolean()) 1.0 else -1.0))
    val v = col("embedding").cast("array<double>")
    val bits = planeMats.map(p => when(
      VectorExpressions.vectorDot(v, lit(p.toArray)) > 0, 1L).otherwise(0L))
    val oldBands = (0 until numBits / bitsPerBand).map { b =>
      (0 until bitsPerBand).map(j => bits(b * bitsPerBand + j) * (1L << j))
        .reduce(_ + _).as(s"b$b")
    }
    val old = df.select(col("vec_id") +: oldBands: _*)
    val neu = df.select(col("vec_id"),
      VectorExpressions.hyperplaneBands(v, planeMats, bitsPerBand).as("bv"))
    val joined = old.join(neu, "vec_id").collect()
    assert(joined.length === rows.length)
    joined.foreach { r =>
      val bv = r.getAs[scala.collection.Seq[Long]]("bv")
      (0 until numBits / bitsPerBand).foreach(b =>
        assert(bv(b) === r.getAs[Long](s"b$b"),
          s"vec ${r.getAs[Long]("vec_id")} band $b"))
    }
    // null vector -> null array (NO bands; the null-collapse guard),
    // in both codegen and interpreted eval
    val withNull = Seq((1L, null.asInstanceOf[Array[Double]]))
      .toDF("vec_id", "embedding")
    assert(withNull.select(VectorExpressions
      .hyperplaneBands(col("embedding"), planeMats, bitsPerBand)).head.isNullAt(0))
    val expr = org.apache.spark.sql.graft.HyperplaneBandValues(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(1.0, -1.0, 0.5, 0.5, -0.5, 1.0, -1.0, 0.25),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)),
      planeMats, bitsPerBand)
    val interp = expr.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()
    val viaDf = Seq((1L, Array(1.0, -1.0, 0.5, 0.5, -0.5, 1.0, -1.0, 0.25)))
      .toDF("vec_id", "embedding")
      .select(VectorExpressions.hyperplaneBands(col("embedding"), planeMats,
        bitsPerBand)).head.getAs[scala.collection.Seq[Long]](0)
    assert(interp.toSeq === viaDf.toSeq)
  }

  test("LSH ANN finds an identical vector (same signature in every band)") {
    val out = Similarity.lshTopK(corpus, "vec_id", "embedding", 8, query, 2)
      .collect()
    assert(out.map(_.getAs[Long]("vec_id")).contains(1L))
  }

  test("kmeansCentroids converges toward cluster means (deterministic seeds)") {
    // two obvious clusters around e1 and e2 axes
    val data = ((1 to 10).map(i => (i.toLong, Array(10f + i * 0.01f, 0f, 0f, 0f, 0f, 0f, 0f, 0f))) ++
      (11 to 20).map(i => (i.toLong, Array(0f, 10f + i * 0.01f, 0f, 0f, 0f, 0f, 0f, 0f))))
      .toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(data, "vec_id", "embedding", k = 2, iterations = 3)
      .collect().map(r => r.getSeq[Double](1).toArray)
    assert(cents.length === 2)
    // one centroid dominated by dim 0, the other by dim 1
    val dims = cents.map(_.zipWithIndex.maxBy(_._1)._2).sorted
    assert(dims.toSeq === Seq(0, 1))
  }

  test("kmeansCentroidsQuantized: bitwise-identical across partitionings, separates planted clusters, carries empty clusters") {
    val data = ((1 to 10).map(i => (i.toLong, Array(10f + i * 0.01f, 0f, 0f, 0f))) ++
      (11 to 20).map(i => (i.toLong, Array(0f, 10f + i * 0.01f, 0f, 0f))))
      .toDF("vec_id", "embedding")
    def fit(df: org.apache.spark.sql.DataFrame) =
      Similarity.kmeansCentroidsQuantized(df, "vec_id", "embedding",
          k = 2, iterations = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    // THE reproducibility contract: the same fit bit-for-bit regardless
    // of physical partitioning (integer sums are order-independent —
    // the float fit only promises this per-plan)
    val p1 = fit(data.repartition(1))
    val p7 = fit(data.repartition(7, col("vec_id")))
    assert(p1 === p7)
    // both planted clusters found: one centroid dominated by dim 0
    // (quantized mean of 10.06..10.1 scaled by 1e6), the other by dim 1
    val byCid = p1.groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    val domDims = byCid.values.map(v => v.zipWithIndex.maxBy(_._1)._2).toSeq.sorted
    assert(domDims === Seq(0, 1))
    assert(byCid.values.forall(v => v.max > 10000000L)) // ~10.0x * 1e6
    // empty-cluster carryover: seeds 1 and 2 both sit in the dim-0
    // cluster; a corpus where EVERYTHING is nearer seed 1 leaves seed
    // 2's cluster empty after round 1 — its centroid must survive as
    // the quantized seed vector, not vanish
    val mono = (1 to 6).map(i => (i.toLong, Array(10f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val fitted = Similarity.kmeansCentroidsQuantized(mono, "vec_id",
        "embedding", k = 2, iterations = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(fitted.map(_._1).distinct.sorted.toSeq === Seq(1L, 2L))
    assert(fitted.filter(_._1 == 2L).map(_._3).max === 10000000L)
    // degenerate-input contract: a vector with a null ELEMENT would
    // null-poison the integer distance fold (where a SQL re-derivation
    // skips the null) — such rows are excluded up front, so the fit
    // equals the fit without them
    val withNullElem = ((1 to 6).map(i =>
        (i.toLong, Array[java.lang.Float](10f, 0f, 0f, 0f))) :+
      (7L, Array[java.lang.Float](10f, null, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val cleaned = Similarity.kmeansCentroidsQuantized(withNullElem, "vec_id",
        "embedding", k = 2, iterations = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(cleaned === fitted.sorted)
    // fewer than 2 usable vectors -> loud error, not a least() crash
    val tiny = Seq((1L, Array(1f, 2f, 3f, 4f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Similarity.kmeansCentroidsQuantized(tiny, "vec_id", "embedding",
        k = 2, iterations = 1)
    }
    // the float fit likewise fails loudly on an empty corpus instead of
    // feeding an empty centroid table into the argmax expression
    val none = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Similarity.kmeansCentroids(none, "vec_id", "embedding", k = 2,
        iterations = 1)
    }
  }

  test("kmeansCentroids sampled fit: rate 1.0 equals the full fit; rate <1 fits on the hash sample") {
    val data = ((1 to 10).map(i => (i.toLong, Array(10f + i * 0.01f, 0f, 0f, 0f, 0f, 0f, 0f, 0f))) ++
      (11 to 20).map(i => (i.toLong, Array(0f, 10f + i * 0.01f, 0f, 0f, 0f, 0f, 0f, 0f))))
      .toDF("vec_id", "embedding")
    // contract: fitSampleRate = 1.0 is EXACTLY the full-corpus fit —
    // same seeds, same iterations, same centroids bit-for-bit
    val full = Similarity.kmeansCentroids(data, "vec_id", "embedding", 2, 3)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
    val rate1 = Similarity.kmeansCentroids(data, "vec_id", "embedding", 2, 3,
        fitSampleRate = 1.0)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
    assert(full === rate1)
    // sampled fit (the 100 TB shape): Lloyd scans only the hash sample,
    // yet the centroids still separate the two planted clusters, and
    // assigning the FULL corpus via the argmax projection puts each
    // axis-cluster member with its own centroid
    val sampled = Similarity.kmeansCentroids(data, "vec_id", "embedding", 2, 3,
      fitSampleRate = 0.6)
    val cents = graft.similarity.Similarity.collectCentroids(sampled, "cid", "centroid")
    val dims = cents.map(_._2.zipWithIndex.maxBy(_._1)._2).sorted
    assert(dims.toSeq === Seq(0, 1))
    val assigned = data.select(col("vec_id"),
        org.apache.spark.sql.graft.CentroidExpressions
          .nearestCentroidId(col("embedding"), cents).as("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byCluster = assigned.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(byCluster.size === 2)
    assert(byCluster.values.toSet === Set((1L to 10L).toSet, (11L to 20L).toSet))
  }

  test("semanticNearDup finds within-cluster near-dups, not cross-cluster decoys") {
    // three well-separated direction clusters; each has a planted
    // near-identical pair; vectors 31/32 are in DIFFERENT clusters
    // with moderate mutual cosine (a decoy no in-cluster search may emit)
    def v(axis: Int, eps: Float): Array[Float] = {
      val a = Array.fill(8)(0f); a(axis) = 1f; a((axis + 1) % 8) = eps; a
    }
    val data = Seq(
      (1L, v(0, 0f)), (2L, v(0, 0.02f)), (10L, v(0, 0.9f)),
      (3L, v(3, 0f)), (4L, v(3, 0.02f)), (11L, v(3, 0.9f)),
      (5L, v(6, 0f)), (6L, v(6, 0.02f)), (12L, v(6, 0.9f))
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.semanticNearDup(data, "vec_id", "embedding",
      k = 3, iterations = 3, threshold = 0.99)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs === Set((1L, 2L), (3L, 4L), (5L, 6L)))
    // every reported pair carries the SHARED cluster id and exact cosine
    val rows = Similarity.semanticNearDup(data, "vec_id", "embedding",
      k = 3, iterations = 3, threshold = 0.99).collect()
    assert(rows.forall(r => r.getAs[Double]("cosine") >= 0.99))
  }

  test("quantizeInt8: codes span [-127,127], zero vector quantizes to zeros") {
    val data = Seq(
      (1L, Array(1f, -2f, 0.5f, 0f)),
      (2L, Array(0f, 0f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(data, "vec_id", "embedding")
      .collect().map(r => r.getAs[Long]("vec_id") -> r).toMap
    val r1 = out(1L)
    // max|x| = 2 -> qscale = 2/127; codes = round(x*127/2)
    assert(math.abs(r1.getAs[Double]("qscale") - 2.0 / 127.0) < 1e-12)
    assert(r1.getSeq[Long](r1.fieldIndex("codes")) === Seq(64L, -127L, 32L, 0L))
    assert(math.abs(r1.getAs[Double]("l2_norm") - math.sqrt(1 + 4 + 0.25)) < 1e-9)
    val r2 = out(2L)
    assert(r2.getAs[Double]("qscale") === 0.0)
    assert(r2.getSeq[Long](r2.fieldIndex("codes")) === Seq(0L, 0L, 0L, 0L))
  }

  test("IVF assigns vectors to nearest centroid and recalls via probed partitions") {
    val centroids = Seq(
      (100L, Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f)),
      (101L, Array(0f, 1f, 0f, 1f, 0f, 0f, 1f, 0f))
    ).toDF("cid", "embedding")
    val out = Similarity.ivfTopK(corpus, "vec_id", "embedding", centroids, "cid",
      query, 2, nProbe = 1)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(out === Seq(1L, 2L)) // ids 3,4 live in the unprobed partition
  }

  test("IvfIndex persists cid-partitioned assignments and probes prune partitions") {
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toString
    val idx = graft.similarity.IvfIndex.buildOrLoad(
      corpus, "vec_id", "embedding", dir, k = 2, iterations = 2)
    // assignments are physically partitioned by centroid id
    val parts = new java.io.File(s"$dir/assignments").listFiles()
      .filter(_.getName.startsWith("cid=")).map(_.getName).sorted
    assert(parts.length === 2, s"expected 2 cid partitions, got ${parts.toSeq}")
    // probe-only query matches brute force on this easy corpus
    val got = idx.topK(query, 2, nProbe = 1)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(got === Seq(1L, 2L))
    // the probe's partition filter reaches the scan (pruned read), and
    // the pruned scan reads fewer files than the full table
    val plan = idx.topK(query, 2, nProbe = 1).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cid"))
    // a rebuilt handle reuses the on-disk index (no second build): the
    // assignments' directory mtime is unchanged by buildOrLoad
    val before = new java.io.File(s"$dir/assignments/_SUCCESS").lastModified()
    graft.similarity.IvfIndex.buildOrLoad(corpus, "vec_id", "embedding", dir, k = 2)
    assert(new java.io.File(s"$dir/assignments/_SUCCESS").lastModified() === before)
  }

  test("IvfIndex.addVectors appends into existing buckets; probes find the new vector") {
    val dir = java.nio.file.Files.createTempDirectory("ivfadd").toString
    val idx = graft.similarity.IvfIndex.buildOrLoad(
      corpus, "vec_id", "embedding", dir, k = 2, iterations = 2)
    val before = idx.assignments.count()
    // a new vector identical to the query direction
    val nv = Seq((99L, Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    idx.addVectors(nv)
    assert(idx.assignments.count() === before + 1)
    // meta refreshed for staleness probes
    assert(!graft.similarity.IvfIndex.isStale(idx, corpus.union(nv)))
    // the appended vector is immediately probe-visible and ranks first
    val got = idx.topK(query, 3, nProbe = 1)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(got.take(2).toSet === Set(1L, 99L)) // both cosine 1.0
    // re-sending an already-indexed id is a no-op (anti-join guard):
    // no duplicate row in the bucket, no meta double-count
    idx.addVectors(nv)
    assert(idx.assignments.count() === before + 1)
    assert(idx.assignments.filter($"vec_id" === 99L).count() === 1)
  }

  test("IvfIndex.compact rewrites fragmented assignments content-identically; crash window recovers") {
    val dir = java.nio.file.Files.createTempDirectory("ivfcompact").toString
    val idx = graft.similarity.IvfIndex.buildOrLoad(
      corpus, "vec_id", "embedding", dir, k = 2, iterations = 2)
    // fragment: several small appends, each landing its own files
    (0 until 4).foreach { i =>
      idx.addVectors(Seq((100L + i, Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f)))
        .toDF("vec_id", "embedding"))
    }
    val filesBefore = idx.dataFileCount()
    val rowsBefore = idx.assignments
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Number]("cid").longValue)).toSet
    val topBefore = idx.topK(query, 3, nProbe = 2)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(idx.compactIfFragmented(maxFiles = filesBefore - 1))
    assert(idx.dataFileCount() < filesBefore)
    // content-preserving: same (id, cid) memberships, same probe answer
    assert(idx.assignments.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Number]("cid").longValue)).toSet
      === rowsBefore)
    assert(idx.topK(query, 3, nProbe = 2)
      .collect().map(_.getAs[Long]("vec_id")).toSeq === topBefore)
    // under the threshold: no-op
    assert(!idx.compactIfFragmented(maxFiles = 10000))
    // crash recovery: simulate a crash between delete and rename (live
    // dir gone, staged copy complete) — the MAINTENANCE entry point
    // must finish the swap before its file count reads the live dir
    // (review finding r13: counting first threw FileNotFoundException
    // in exactly this window), and must NOT recompact when the
    // recovered table is under the threshold
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s"$dir/$s")
    assert(fs.rename(p("assignments"), p("assignments_next")))
    assert(!idx.compactIfFragmented(maxFiles = 10000))
    assert(fs.exists(p("assignments")) && !fs.exists(p("assignments_next")))
    assert(idx.assignments.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Number]("cid").longValue)).toSet
      === rowsBefore)
    // and compact() itself also recovers (the direct-call path)
    assert(fs.rename(p("assignments"), p("assignments_next")))
    idx.compact()
    assert(fs.exists(p("assignments")) && !fs.exists(p("assignments_next")))
    assert(idx.assignments.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Number]("cid").longValue)).toSet
      === rowsBefore)
  }

  test("IvfIndex.withAutoMaintenance compacts on the append that crosses maxFiles, content unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("ivfauto").toString
    val built = graft.similarity.IvfIndex.buildOrLoad(
      corpus, "vec_id", "embedding", dir, k = 2, iterations = 2)
    val maxFiles = built.dataFileCount()
    val idx: graft.similarity.IvfIndex = built.withAutoMaintenance(maxFiles = maxFiles)
    def rows = idx.assignments.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Number]("cid").longValue)).toSet
    val rowsBefore = rows
    val added = 200L to 202L
    added.foreach { i =>
      idx.addVectors(Seq((i, Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f)))
        .toDF("vec_id", "embedding"))
      // every append lands a new file, so only the compaction the
      // append itself ran brings the count back under the cap
      assert(idx.dataFileCount() <= maxFiles,
        s"append of $i left ${idx.dataFileCount()} files over the cap $maxFiles")
    }
    // history memberships unchanged, each appended vector exactly once,
    // and the by-cid layout intact
    val rowsAfter = rows
    assert(rowsAfter.filterNot(r => added.contains(r._1)) === rowsBefore)
    assert(idx.assignments.count() === rowsBefore.size + added.size)
    assert(rowsAfter.map(_._1).filter(added.contains) === added.toSet)
    assert(new java.io.File(s"$dir/assignments").listFiles()
      .count(_.getName.startsWith("cid=")) === 2)
    assert(!graft.similarity.IvfIndex.isStale(idx,
      corpus.union(added.map(i => (i, Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f)))
        .toDF("vec_id", "embedding"))))
  }

  test("IvfIndex.recenter swaps centroids in by rename; its crash window recovers") {
    val dir = java.nio.file.Files.createTempDirectory("ivfrecenter").toString
    val idx = graft.similarity.IvfIndex.buildOrLoad(
      corpus, "vec_id", "embedding", dir, k = 2, iterations = 2)
    idx.addVectors(Seq((50L, Array(1f, 0f, 1f, 0f, 1f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding"))
    idx.recenter()
    def cents = idx.centroids.collect()
      .map(r => (r.getAs[Number]("cid").longValue,
        r.getSeq[Double](r.fieldIndex("centroid")).toVector))
      .sortBy(_._1).toSeq
    val recentered = cents
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s"$dir/$s")
    assert(fs.exists(p("centroids")) && !fs.exists(p("centroids_next")))
    // a recenter that died between deleting centroids/ and renaming its
    // staged copy: a maintenance entry point finishes the swap
    assert(fs.rename(p("centroids"), p("centroids_next")))
    assert(!idx.compactIfFragmented(maxFiles = 10000))
    assert(fs.exists(p("centroids")) && !fs.exists(p("centroids_next")))
    assert(cents === recentered)
    // and so does recenter itself, before it reads the centroids
    assert(fs.rename(p("centroids"), p("centroids_next")))
    idx.recenter()
    assert(fs.exists(p("centroids")) && !fs.exists(p("centroids_next")))
    assert(cents.map(_._1) === recentered.map(_._1))
    cents.zip(recentered).foreach { case ((_, a), (_, b)) =>
      assert(a.zip(b).forall { case (x, y) => math.abs(x - y) < 1e-12 })
    }
  }

  test("IvfIndex completion keys on meta/: an index without it reads absent and is rebuilt") {
    val dir = java.nio.file.Files.createTempDirectory("ivfmeta").toString
    graft.similarity.IvfIndex.buildOrLoad(
      corpus, "vec_id", "embedding", dir, k = 2, iterations = 2)
    assert(graft.similarity.IvfIndex.exists(spark, dir))
    // a build that crashed after writing assignments/ but before meta/
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$dir/meta"), true))
    assert(!graft.similarity.IvfIndex.exists(spark, dir))
    // buildOrLoad rebuilds (a load writes no meta record)
    val idx = graft.similarity.IvfIndex.buildOrLoad(
      corpus, "vec_id", "embedding", dir, k = 2, iterations = 2)
    assert(graft.similarity.IvfIndex.exists(spark, dir))
    assert(!graft.similarity.IvfIndex.isStale(idx, corpus))
    assert(idx.assignments.count() === corpus.count())
  }

  test("IvfIndex.buildOrRefresh rebuilds when the corpus changed under the path") {
    val dir = java.nio.file.Files.createTempDirectory("ivfrefresh").toString
    graft.similarity.IvfIndex.buildOrRefresh(
      corpus, "vec_id", "embedding", dir, k = 2, iterations = 2)
    val before = new java.io.File(s"$dir/assignments/_SUCCESS").lastModified()
    // same corpus -> served from the existing index, no rebuild
    graft.similarity.IvfIndex.buildOrRefresh(
      corpus, "vec_id", "embedding", dir, k = 2, iterations = 2)
    assert(new java.io.File(s"$dir/assignments/_SUCCESS").lastModified() === before)
    // regenerated (filtered) corpus at the same path -> stale, rebuilt
    val shrunk = corpus.filter($"vec_id" =!= 4L)
    val idx = graft.similarity.IvfIndex.buildOrRefresh(
      shrunk, "vec_id", "embedding", dir, k = 2, iterations = 2)
    assert(idx.assignments.count() === shrunk.count())
    assert(!graft.similarity.IvfIndex.isStale(idx, shrunk))
  }

  test("IvfIndex.buildOrRefresh serves a corpus holding a null vector without rebuilding") {
    val dir = java.nio.file.Files.createTempDirectory("ivfnullvec").toString
    val withNull = corpus.union(Seq((9L, null: Array[Float])).toDF("vec_id", "embedding"))
    val idx = graft.similarity.IvfIndex.buildOrRefresh(
      withNull, "vec_id", "embedding", dir, k = 2, iterations = 2)
    assert(idx.assignments.count() === corpus.count()) // the null vector is unindexable
    val before = new java.io.File(s"$dir/assignments/_SUCCESS").lastModified()
    Thread.sleep(20) // a rebuild's marker must land at a later millisecond
    graft.similarity.IvfIndex.buildOrRefresh(
      withNull, "vec_id", "embedding", dir, k = 2, iterations = 2)
    assert(new java.io.File(s"$dir/assignments/_SUCCESS").lastModified() === before)
    assert(!graft.similarity.IvfIndex.isStale(idx, withNull))
  }

  test("IvfIndex.build writes the bucket files compaction would leave") {
    val dir = java.nio.file.Files.createTempDirectory("ivflayout").toString
    // four input partitions: a per-split write would land up to 4 x k files
    val spread = (1 to 64).map(i => (i.toLong,
        Array.tabulate(8)(d => if (d == i % 4) 1f else 0.01f * ((i + d) % 7))))
      .toDF("vec_id", "embedding").repartition(4)
    val idx = graft.similarity.IvfIndex.build(spread, "vec_id", "embedding", dir,
      k = 4, iterations = 2)
    val fresh = idx.dataFileCount()
    assert(fresh === new java.io.File(s"$dir/assignments").list()
      .count(_.startsWith("cid=")), "one file per bucket at this size")
    val rows = idx.assignments.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Number]("cid").longValue)).toSet
    idx.compact()
    assert(idx.dataFileCount() === fresh)
    assert(idx.assignments.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Number]("cid").longValue)).toSet === rows)
    assert(rows.size === 64)
  }

  /** Probe queries over the 8-dim `corpus`, with the nProbe to run each
    * at: empty, null, zero-norm, NaN, multi-row and nProbe > k.
    */
  private def degenerateQueries = {
    def q(vs: Array[Float]*) = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    Seq(
      "empty query" -> (query.filter(lit(false)), 2),
      "null vector" -> (q(null), 2),
      "zero-norm vector" -> (q(Array.fill(8)(0f)), 2),
      "NaN component" -> (q(Array(1f, Float.NaN, 0f, 0f, 1f, 0f, 0f, 0f)), 2),
      "two-row query" -> (q(Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f),
        Array(0f, 0f, 1f, 0f, 0f, 1f, 0f, 0f)), 2),
      "two-row query, one null" -> (q(null, Array(0f, 1f, 0f, 1f, 0f, 0f, 1f, 0f)), 4),
      "nProbe > k" -> (query, 5),
      "one probe" -> (query, 1))
  }

  test("IvfIndex.topK probes the cids the cross-join rank selects, on degenerate queries too") {
    val dir = java.nio.file.Files.createTempDirectory("ivfprobe").toString
    val idx = graft.similarity.IvfIndex.build(corpus, "vec_id", "embedding", dir,
      k = 3, iterations = 2)
    // the probe rank topK ran before it ranked on the driver
    def reference(q: org.apache.spark.sql.DataFrame, nProbe: Int): Set[Long] =
      idx.centroids
        .crossJoin(broadcast(q.select(col("embedding").cast("array<double>").as("_qv"))))
        .select(col("cid"),
          graft.functions.cosineSimilarity(col("centroid"), col("_qv")).as("_csim"))
        .orderBy(col("_csim").desc, col("cid"))
        .limit(nProbe)
        .collect().map(_.getLong(0)).toSet
    degenerateQueries.foreach { case (name, (qdf, nProbe)) =>
      val expected = reference(qdf, nProbe)
      assert(idx.probedCids(qdf, nProbe).toSet === expected, name)
      // and topK scans exactly those buckets
      val exact = Similarity.bruteForceTopK(
          idx.assignments.filter(col("cid").isin(expected.toSeq.map(Long.box): _*)),
          "vec_id", "embedding", qdf, 3)
        .collect().map(_.getAs[Long]("vec_id")).toSeq
      assert(idx.topK(qdf, 3, nProbe).collect().map(_.getAs[Long]("vec_id")).toSeq ===
        exact, name)
    }
    assert(reference(query, 5).size === 3 && reference(query.filter(lit(false)), 2).isEmpty)
  }

  test("ivfTopK over an index's centroids returns the index's topK rows, on degenerate queries too") {
    val dir = java.nio.file.Files.createTempDirectory("ivfshared").toString
    val idx = graft.similarity.IvfIndex.build(corpus, "vec_id", "embedding", dir,
      k = 3, iterations = 2)
    val literal = idx.centroids.collect()
      .map(r => (r.getAs[Long]("cid"), r.getAs[Seq[Double]]("centroid").toArray))
      .toSeq.toDF("cid", "embedding")
    degenerateQueries.foreach { case (name, (qdf, nProbe)) =>
      val viaIndex = idx.topK(qdf, 3, nProbe).collect().toSeq
      val viaTable = Similarity.ivfTopK(corpus, "vec_id", "embedding", literal, "cid",
        qdf, 3, nProbe).collect().toSeq
      assert(viaTable === viaIndex, name)
    }
  }

  test("IvfIndex drift probe flags append-skewed buckets; recenter restores centroid means") {
    val dir = java.nio.file.Files.createTempDirectory("ivfdrift").toString
    val idx = graft.similarity.IvfIndex.buildOrLoad(
      corpus, "vec_id", "embedding", dir, k = 2, iterations = 2)
    // fresh index: every non-empty bucket's centroid IS its member mean
    val fresh = idx.centroidDrift().collect()
    assert(fresh.forall(r => r.isNullAt(1) ||
      r.getAs[Double]("centroid_cosine") > 0.999999))
    assert(!idx.recenterIfDrifted()) // no-op on a fresh index
    // skew one bucket with appends pointing off its centroid
    val nv = Seq(
      (50L, Array(1f, 0f, 1f, 0f, 1f, 0f, 0f, 0f)),
      (51L, Array(1f, 0f, 1f, 0f, 1f, 0f, 0f, 0f)),
      (52L, Array(1f, 0f, 1f, 0f, 1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    idx.addVectors(nv)
    val skewed = idx.centroidDrift().collect()
      .filter(r => !r.isNullAt(1) && r.getAs[Long]("n_members") >= 3)
    assert(skewed.exists(_.getAs[Double]("centroid_cosine") < 0.999),
      s"expected drift after skewed appends, got ${skewed.toSeq}")
    // policy fires, and afterwards centroids equal member means again
    assert(idx.recenterIfDrifted(minCosine = 0.999))
    val after = idx.centroidDrift().collect()
    assert(after.forall(r => r.isNullAt(1) ||
      r.getAs[Double]("centroid_cosine") > 0.999999))
    // probes still rank correctly against the re-centered index
    val got = idx.topK(query, 2, nProbe = 2)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(got.head === 1L)
  }

  test("recenterIfDrifted restores probe recall after appends dominate a bucket") {
    val dir = java.nio.file.Files.createTempDirectory("ivfrecall").toString
    // build on two clean clusters around e1 and e2
    val base = ((1 to 5).map(i => (i.toLong,
        Array(1f, 0f, 0.01f * i, 0f, 0f, 0f, 0f, 0f))) ++
      (11 to 15).map(i => (i.toLong,
        Array(0f, 1f, 0f, 0.01f * (i - 10), 0f, 0f, 0f, 0f))))
      .toDF("vec_id", "embedding")
    val idx = graft.similarity.IvfIndex.buildOrLoad(
      base, "vec_id", "embedding", dir, k = 2, iterations = 3)
    // 50 appends in a direction that buckets with e1 (cos .8 vs .59) and
    // comes to DOMINATE that bucket's member mean
    val appends = (100 to 149).map(i => (i.toLong,
        Array(0.8f, 0.59f, 0f, 0f, 0.001f * (i - 100), 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    idx.addVectors(appends)
    // query between the appended mass and e2: against the STALE stored
    // centroids it ranks the e2 bucket first (cos .8 vs .6) even though
    // every true neighbor lives in the appended-to bucket
    val q = Seq((0L, Array(0.6f, 0.8f, 0f, 0f, 0f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val truth = Similarity.bruteForceTopK(
        base.union(appends), "vec_id", "embedding", q, 5)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(truth.forall(_ >= 100L)) // fixture: brute-force top-5 is appends
    def recall(): Double = {
      val got = idx.topK(q, 5, nProbe = 1).collect()
        .map(_.getAs[Long]("vec_id")).toSet
      truth.intersect(got).size.toDouble / truth.size
    }
    val before = recall()
    assert(before === 0.0,
      s"fixture: stale centroids should mis-probe, got recall $before")
    assert(idx.recenterIfDrifted(minCosine = 0.99)) // drift detected, recenter ran
    val after = recall()
    assert(after === 1.0, s"recall after recenter: $after")
  }

  test("IvfIndex.topKBatch answers a query TABLE in one pass, matching per-query probes") {
    val dir = java.nio.file.Files.createTempDirectory("ivfbatch").toString
    val idx = graft.similarity.IvfIndex.buildOrLoad(
      corpus, "vec_id", "embedding", dir, k = 2, iterations = 2)
    // two queries pointing at the two obvious clusters
    val queries = Seq(
      (100L, Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f)),
      (200L, Array(0f, 1f, 0f, 1f, 0f, 0f, 1f, 0f)))
      .toDF("qid", "embedding")
    val got = idx.topKBatch(queries, "qid", k = 2, nProbe = 1).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.sortBy(-_.getAs[Double]("cosine"))
        .map(_.getAs[Long]("vec_id")).toSeq).toMap
    // each query's results equal its single-query probe
    Seq(100L -> queries.filter(col("qid") === 100), 200L -> queries.filter(col("qid") === 200))
      .foreach { case (qid, q) =>
        val single = idx.topK(q, 2, nProbe = 1)
          .collect().map(_.getAs[Long]("vec_id")).toSeq
        assert(got(qid) === single, s"query $qid")
      }
    assert(got(100L) === Seq(1L, 2L))
    assert(got(200L).toSet === Set(3L)) // cluster 2 holds only vec 3 (4 is its own)
  }

  test("topKBatch excludeSelf: batch kNN self-join recalls the brute-force neighbors") {
    val dir = java.nio.file.Files.createTempDirectory("ivfknn").toString
    // three direction clusters x 8 members with small in-cluster jitter
    def v(axis: Int, eps: Float): Array[Float] = {
      val a = Array.fill(8)(0f); a(axis) = 1f; a((axis + 1) % 8) = eps; a
    }
    val data = (for {
      (axis, base) <- Seq((0, 0L), (3, 100L), (6, 200L))
      i <- 1 to 8
    } yield (base + i, v(axis, 0.01f * i))).toDF("vec_id", "embedding")
    val idx = graft.similarity.IvfIndex.buildOrLoad(
      data, "vec_id", "embedding", dir, k = 3, iterations = 3)
    val knn = idx.topKBatch(data, "vec_id", k = 3, nProbe = 2, excludeSelf = true)
      .collect()
    // no self-matches; every query keeps a FULL k (self exclusion runs
    // before the rank, not after)
    assert(knn.forall(r => r.getAs[Long]("query_id") != r.getAs[Long]("vec_id")))
    val byQuery = knn.groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("vec_id")).toSet).toMap
    assert(byQuery.size === 24 && byQuery.values.forall(_.size === 3))
    // recall vs exact brute-force kNN (same cosine, self excluded)
    val vecs = data.collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val hits = vecs.keys.toSeq.map { q =>
      val truth = vecs.keys.filter(_ != q).toSeq
        .sortBy(o => (-cos(vecs(q), vecs(o)), o)).take(3).toSet
      truth.intersect(byQuery(q)).size.toDouble / truth.size
    }
    val recall = hits.sum / hits.size
    assert(recall >= 0.9, s"batch kNN recall $recall below 0.9")
  }

  test("pqTopK: kSub=n degenerates to exact dot ranking; clustered recall holds") {
    import spark.implicits._
    // exactness degenerate case: with iterations=0 the codebook IS the
    // vectors (seeds untouched) and every subvector is nonzero and
    // pairwise non-parallel, so the cosine argmax assigns each vector
    // its own codeword and ADC = Σ_j <q_j, x_j> = <q, x> exactly —
    // ranking equals brute dot
    val vs = Seq(
      (1L, Array(1.0f, 0.1f, 0.3f, 0.9f)),
      (2L, Array(0.1f, 1.0f, 0.8f, 0.2f)),
      (3L, Array(0.5f, 0.6f, 0.4f, 0.5f)),
      (4L, Array(0.9f, 0.4f, 1.0f, 0.1f)),
      (5L, Array(0.2f, 0.8f, 0.6f, 1.0f)),
      (6L, Array(0.7f, 0.3f, 0.2f, 0.6f)))
    val df = vs.toDF("vec_id", "embedding")
    val qdf = Seq((0L, Array(1.0f, 0.5f, 0.0f, 0.2f))).toDF("vec_id", "embedding")
    val out = Similarity.pqTopK(df, "vec_id", "embedding", dim = 4,
        qdf, k = 6, m = 2, kSub = 6, iterations = 0)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("adc_score"))
    // widen through float32 exactly as the embedding column does
    val q = Array(1.0f, 0.5f, 0.0f, 0.2f).map(_.toDouble)
    val exact = vs.map { case (id, v) =>
      id -> v.map(_.toDouble).zip(q).map { case (x, y) => x * y }.sum }
      .sortBy { case (id, s) => (-s, id) }
    assert(out.map(_._1).toSeq === exact.map(_._1))
    out.foreach { case (id, s) =>
      assert(math.abs(s - exact.find(_._1 == id).get._2) < 1e-9) }

    // clustered corpus: 4 direction clusters x 10 members; query near
    // cluster 0 -> PQ top-10 should mostly be cluster 0 (exact dot top-10)
    def member(axis: Int, i: Int): Array[Float] = {
      val a = Array.fill(8)(0.05f * ((axis * 31 + i * 7) % 5))
      a(axis * 2) = 2.0f + 0.01f * i
      a
    }
    val corpus = (for (axis <- 0 until 4; i <- 0 until 10)
      yield (axis * 10 + i + 1).toLong -> member(axis, i))
    val cdf = corpus.toDF("vec_id", "embedding")
    val cq = Seq(0L -> Array(2.0f, 0f, 0f, 0f, 0f, 0f, 0f, 0f))
      .toDF("vec_id", "embedding")
    val got = Similarity.pqTopK(cdf, "vec_id", "embedding", dim = 8,
        cq, k = 10, m = 4, kSub = 8, iterations = 2)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val qv = Array(2.0, 0, 0, 0, 0, 0, 0, 0)
    val truth = corpus.map { case (id, v) =>
      id -> v.map(_.toDouble).zip(qv).map { case (x, y) => x * y }.sum }
      .sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSet
    val recall = truth.intersect(got).size.toDouble / truth.size
    assert(recall >= 0.8, s"PQ recall $recall below 0.8")
  }

  test("ivfPqTopK: probed-bucket pruning keeps recall; candidates shrink") {
    import spark.implicits._
    // 4 direction clusters x 10 members (the pqTopK fixture); query on
    // cluster 0's axis -> the coarse probe should keep that cluster
    def member(axis: Int, i: Int): Array[Float] = {
      val a = Array.fill(8)(0.05f * ((axis * 31 + i * 7) % 5))
      a(axis * 2) = 2.0f + 0.01f * i
      a
    }
    // ids interleave the clusters so the first-kIvf-by-id seeds span
    // all four directions (first-k seeding is the fit's contract; a
    // corpus sorted BY cluster would seed one cluster four times)
    val corpus = (for (axis <- 0 until 4; i <- 0 until 10)
      yield (i * 4 + axis + 1).toLong -> member(axis, i))
    val cdf = corpus.toDF("vec_id", "embedding")
    val cq = Seq(0L -> Array(2.0f, 0f, 0f, 0f, 0f, 0f, 0f, 0f))
      .toDF("vec_id", "embedding")
    val out = Similarity.ivfPqTopK(cdf, "vec_id", "embedding", dim = 8,
        cq, k = 10, kIvf = 4, ivfIterations = 2, nProbe = 2,
        m = 4, kSub = 8, pqIterations = 2)
      .collect()
    val got = out.map(_.getAs[Long]("vec_id")).toSet
    val qv = Array(2.0, 0, 0, 0, 0, 0, 0, 0)
    val truth = corpus.map { case (id, v) =>
      id -> v.map(_.toDouble).zip(qv).map { case (x, y) => x * y }.sum }
      .sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSet
    val recall = truth.intersect(got).size.toDouble / truth.size
    assert(recall >= 0.8, s"IVF-PQ recall $recall below 0.8")
    // pruning is real: at most nProbe of kIvf buckets survive
    assert(out.map(_.getAs[Long]("cid")).toSet.size <= 2)
  }

  /** 4 direction clusters x 10 members over 8 dims, ids interleaving the
    * clusters (the pqTopK / ivfPqTopK fixture).
    */
  private def clustered = (for (axis <- 0 until 4; i <- 0 until 10) yield {
    val a = Array.fill(8)(0.05f * ((axis * 31 + i * 7) % 5))
    a(axis * 2) = 2.0f + 0.01f * i
    (i * 4 + axis + 1).toLong -> a
  }).toDF("vec_id", "embedding")
  private val axisQuery = Seq(0L -> Array(2.0f, 0f, 0f, 0f, 0f, 0f, 0f, 0f))
    .toDF("vec_id", "embedding")

  test("pqCodebooks subspace j is the one-subspace k-means fit of slice j, renumbered") {
    for (rate <- Seq(1.0, 0.6)) {
      val books = Similarity.pqCodebooks(clustered, "vec_id", "embedding", dim = 8,
        m = 4, kSub = 8, iterations = 2, fitSampleRate = rate)
      (0 until 4).foreach { j =>
        val slice = clustered.select(col("vec_id"),
          org.apache.spark.sql.functions.slice(col("embedding"), 2 * j + 1, 2).as("embedding"))
        val fit = Similarity.kmeansCentroidArray(slice, "vec_id", "embedding", 8, 2, rate)
        assert(books(j).map { case (c, v) => (c, v.toSeq) }.toSeq ===
          fit.zipWithIndex.map { case ((_, v), i) => (i.toLong, v.toSeq) }.toSeq,
          s"subspace $j at rate $rate")
      }
    }
  }

  test("the PQ fit skips null vectors; a fit with no usable vector fails by name") {
    // null vectors among the first kSub ids used to NPE the seed collect
    val withNulls = clustered.filter(col("vec_id") =!= 2L)
      .union(Seq((0L, null: Array[Float]), (2L, null: Array[Float])).toDF("vec_id", "embedding"))
    val clean = clustered.filter(col("vec_id") =!= 2L)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
    assert(rows(Similarity.pqTopK(withNulls, "vec_id", "embedding", dim = 8, axisQuery,
        k = 10, m = 4, kSub = 8)) ===
      rows(Similarity.pqTopK(clean, "vec_id", "embedding", dim = 8, axisQuery,
        k = 10, m = 4, kSub = 8)))
    assert(rows(Similarity.ivfPqTopK(withNulls, "vec_id", "embedding", dim = 8, axisQuery,
        k = 10, kIvf = 4, nProbe = 2, m = 4, kSub = 8)) ===
      rows(Similarity.ivfPqTopK(clean, "vec_id", "embedding", dim = 8, axisQuery,
        k = 10, kIvf = 4, nProbe = 2, m = 4, kSub = 8)))
    allNullFits.foreach { fit =>
      val e = intercept[IllegalArgumentException](fit())
      assert(e.getMessage.contains("at least one non-null vector"), e.getMessage)
    }
  }

  /** The Lloyd fits over a corpus with no usable vector. */
  private def allNullFits: Seq[() => Any] = {
    val allNull = Seq((1L, null: Array[Float]), (2L, null: Array[Float]))
      .toDF("vec_id", "embedding")
    Seq(
      () => Similarity.pqTopK(allNull, "vec_id", "embedding", dim = 8, axisQuery, 10,
        m = 4, kSub = 8),
      () => Similarity.ivfPqTopK(allNull, "vec_id", "embedding", dim = 8, axisQuery, 10,
        kIvf = 2, nProbe = 1, m = 4, kSub = 8),
      () => Similarity.kmeansCentroids(allNull, "vec_id", "embedding", k = 2, iterations = 1))
  }

  test("a failing Lloyd fit leaves no cached dataset behind") {
    val cached = spark.sparkContext.getPersistentRDDs.keySet
    allNullFits.foreach(fit => intercept[Exception](fit()))
    assert(spark.sparkContext.getPersistentRDDs.keySet === cached)
  }

  test("the PQ paths reject a dim that does not divide into m") {
    val dim64 = (id: Long) =>
      (id, Array.tabulate(64)(d => if (d == id % 64) 1f else 0.01f * ((d + id) % 5)))
    val corpus64 = (1L to 40L).map(dim64).toDF("vec_id", "embedding")
    val query64 = Seq(dim64(0L)).toDF("vec_id", "embedding")
    val cents = graft.queries.SimilarityQueries.detCentroids
      .map { case (cid, v) => (cid, v.toArray) }.toArray
    Seq[() => Any](
      () => Similarity.ivfPqTopK(corpus64, "vec_id", "embedding", dim = 64, query64, 10,
        kIvf = 4, nProbe = 2, m = 7, kSub = 4),
      () => Similarity.pqTopK(corpus64, "vec_id", "embedding", dim = 64, query64, 10,
        m = 7, kSub = 4),
      () => Similarity.ivfPqTopKWithQuantizers(corpus64, "vec_id", "embedding", 64,
        query64, 10, nProbe = 4, m = 7, cents, graft.queries.SimilarityQueries.detBooks))
      .foreach { call =>
        val e = intercept[IllegalArgumentException](call())
        assert(e.getMessage.contains("must divide into m=7"), e.getMessage)
      }
  }

  test("the PQ query frame must hold exactly one non-null vector of the corpus dim") {
    val books = Similarity.pqCodebooks(clustered, "vec_id", "embedding", dim = 8,
      m = 4, kSub = 8, iterations = 1, fitSampleRate = 1.0)
    val cents = Similarity.kmeansCentroidArray(clustered, "vec_id", "embedding", 4, 1)
    val frames = Seq(
      "empty" -> axisQuery.filter(lit(false)),
      "null vector" -> Seq((0L, null: Array[Float])).toDF("vec_id", "embedding"),
      "two rows" -> axisQuery.union(axisQuery))
    frames.foreach { case (name, qdf) =>
      Seq[() => Any](
        () => Similarity.pqTopKWithBooks(clustered, "vec_id", "embedding", 8, qdf, 10, 4, books),
        () => Similarity.ivfPqTopKWithQuantizers(clustered, "vec_id", "embedding", 8, qdf,
          10, nProbe = 2, m = 4, cents, books))
        .foreach { call =>
          val e = intercept[IllegalArgumentException](call())
          assert(e.getMessage.contains("exactly one non-null embedding row"), s"$name: ${e.getMessage}")
        }
    }
    // a null row beside the one real vector is not a second query
    val withNull = axisQuery.union(Seq((1L, null: Array[Float])).toDF("vec_id", "embedding"))
    assert(Similarity.pqTopKWithBooks(clustered, "vec_id", "embedding", 8, withNull, 10, 4,
        books).collect().toSeq ===
      Similarity.pqTopKWithBooks(clustered, "vec_id", "embedding", 8, axisQuery, 10, 4,
        books).collect().toSeq)
    val short = Seq((0L, Array(1f, 0f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException](
      Similarity.pqTopKWithBooks(clustered, "vec_id", "embedding", 8, short, 10, 4, books))
  }
}
