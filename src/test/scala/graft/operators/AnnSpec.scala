package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

class AnnSpec extends AnyFunSuite with SparkTestBase {

  private lazy val emb = {
    graft.functions.GraftFunctions.register(spark)
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("emb"))
  }

  private lazy val centroids = emb.filter(col("vec_id") < 8).select(
    col("vec_id").as("centroid_id"), col("emb").as("c_emb"),
    sqrt(graft.functions.GraftFunctions.dot(col("emb"), col("emb"))).as("c_norm"))

  test("lshNearPairs bucket cap: degenerate all-identical corpus completes and yields no pairs") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // 500 identical vectors all hash to one bucket — uncapped this is a
    // 500^2/2 self-join in a single task; the cap drops the bucket up front
    val v = (1 to 64).map(_.toDouble)
    val degenerate = (1 to 500).map(i => (i.toLong, v)).toDF("vec_id", "emb")
    val capped = Ann.lshNearPairs(degenerate, "vec_id", "emb",
      planes = 8, dim = 64, threshold = 0.0, maxBucketSize = 50)
    assert(capped.count() == 0)
  }

  test("lshNearPairs with cap above every bucket equals the uncapped result") {
    val base = Ann.lshNearPairs(emb, "vec_id", "emb", 8, 64, 0.25)
    val capped = Ann.lshNearPairs(emb, "vec_id", "emb", 8, 64, 0.25,
      maxBucketSize = 1000000)
    assert(base.collect().toSet == capped.collect().toSet)
  }

  test("ivfProbe nprobe=2 is a superset search: top-k cosines never worse than nprobe=1") {
    val assigned = Ann.ivfAssign(emb, "vec_id", "emb", centroids).cache()
    val p1 = Ann.ivfProbe(assigned, centroids, col("vec_id") < 5, k = 3)
    val p2 = Ann.ivfProbe(assigned, centroids, col("vec_id") < 5, k = 3, nprobe = 2)
    // per (query, rank) the 2-cell candidate pool contains the 1-cell pool,
    // so the rank-r cosine can only improve
    val j = p1.select(col("query_id"), col("rank"), col("cos").as("cos1"))
      .join(p2.select(col("query_id"), col("rank"), col("cos").as("cos2")),
        Seq("query_id", "rank"))
    assert(j.filter(col("cos2") < col("cos1")).count() == 0)
  }

  test("oversized query sets fail loud before the forced broadcast") {
    // the "small query set" contract, enforced: a predicate matching more
    // than maxQueryRows must throw instead of building a driver-heap
    // broadcast that OOMs at scale
    val wide = col("vec_id") >= 0 // matches the whole corpus
    val eTop = intercept[IllegalArgumentException] {
      Ann.cosineTopK(emb, "vec_id", "emb", wide, k = 3, maxQueryRows = 5L)
    }
    assert(eTop.getMessage.contains("cosineTopK"))
    val assigned = Ann.ivfAssign(emb, "vec_id", "emb", centroids)
    val e1 = intercept[IllegalArgumentException] {
      Ann.ivfProbe(assigned, centroids, wide, k = 3, maxQueryRows = 5L)
    }
    assert(e1.getMessage.contains("ivfProbe: frame has > 5 rows"))
    val e2 = intercept[IllegalArgumentException] {
      // nprobe divides the budget: 10 queries x nprobe 2 > 12
      Ann.ivfProbe(assigned, centroids, col("vec_id") < 10, k = 3,
        nprobe = 2, maxQueryRows = 12L)
    }
    assert(e2.getMessage.contains("ivfProbe: frame has > 6 rows"))
    // within-bound predicates pass through unchanged
    assert(Ann.cosineTopK(emb, "vec_id", "emb", col("vec_id") < 3, k = 2,
      maxQueryRows = 5L).count() > 0)
  }

  test("pqEncode codes are the true per-subspace argmin (brute-force check)") {
    val book = Ann.pqCodebook(4, 8, 16)
    // codebook values are dyadic rationals in [-1, 0.875] (exact doubles)
    assert(book.flatten.flatten.forall(v =>
      v >= -1.0 && v <= 0.875 && (v * 8).isWhole))
    val coded = Ann.pqEncode(emb, "vec_id", "emb", 4, 8, 64)
    val vecs = emb.limit(20).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val got = coded.filter(col("vec_id").isin(vecs.keys.toSeq: _*)).collect()
      .map(r => r.getLong(0) -> (1 to 4).map(r.getInt)).toMap
    assert(got.values.forall(_.forall(c => c >= 0 && c < 8)))
    for ((id, xs) <- vecs; s <- 0 until 4) {
      val dists = (0 until 8).map { c =>
        (0 until 16).map { i =>
          val d = xs(s * 16 + i) - book(s)(c)(i); d * d
        }.sum
      }
      val want = dists.indexOf(dists.min)
      assert(got(id)(s) == want, s"vec $id subspace $s: ${got(id)(s)} != $want")
    }
  }

  test("fused graft_pq_codes / graft_pq_adc are bit-identical to the " +
      "expanded Catalyst form (the r15 plan-size fix's parity contract)") {
    // the pre-r15 construction, verbatim: per subspace an array of
    // expanded left-associated squared-difference sums, argmin via
    // array_position(array_min), ADC via per-subspace LUT element_at
    val (subspaces, centroidsPerSub, dim) = (4, 8, 64)
    val subDim = dim / subspaces
    val book = Ann.pqCodebook(subspaces, centroidsPerSub, subDim)
    def expandedCode(embCol: String, s: Int) = {
      val ds = array((0 until centroidsPerSub).map { c =>
        (0 until subDim).map { i =>
          val x = element_at(col(embCol), s * subDim + i + 1) - lit(book(s)(c)(i))
          x * x
        }.reduce(_ + _)
      }: _*)
      (array_position(ds, array_min(ds)) - 1).cast("int")
    }
    def expandedAdc(qEmbCol: String) =
      (0 until subspaces).map { s =>
        val lut = array((0 until centroidsPerSub).map { c =>
          (0 until subDim).map { i =>
            val x = element_at(col(qEmbCol), s * subDim + i + 1) - lit(book(s)(c)(i))
            x * x
          }.reduce(_ + _)
        }: _*)
        element_at(lut, col(s"c$s") + 1)
      }.reduce(_ + _)
    val bookSeq: Seq[Seq[Seq[Double]]] = book.map(_.map(_.toSeq).toSeq).toSeq
    val F = graft.functions.GraftFunctions
    val both = emb
      .withColumn("__codes", F.pqCodes(col("emb"), bookSeq))
      .select(col("vec_id") +: col("emb") +: col("__codes") +:
        (0 until subspaces).map(s => expandedCode("emb", s).as(s"c$s")): _*)
      .withColumn("adc_old", expandedAdc("emb"))
      .withColumn("adc_new", F.pqAdc(col("emb"), col("__codes"), bookSeq))
    val bad = both.filter(
      (0 until subspaces).map(s =>
        element_at(col("__codes"), s + 1) =!= col(s"c$s")).reduce(_ || _)
        || col("adc_old") =!= col("adc_new")).count()
    assert(bad == 0, "fused PQ kernels diverged from the expanded form")
    assert(both.count() > 0)
  }

  test("pqTopK matches a brute-force ADC ranking and honors the query guard") {
    val book = Ann.pqCodebook(4, 8, 16)
    val got = Ann.pqTopK(emb, "vec_id", "emb", col("vec_id") < 2, k = 5,
      subspaces = 4, centroidsPerSub = 8, dim = 64)
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(1)).map(r => r.getLong(2)).toSeq).toMap
    // brute force: codes for every vector, exact luts per query, full rank
    val codes = Ann.pqEncode(emb, "vec_id", "emb", 4, 8, 64).collect()
      .map(r => r.getLong(0) -> (1 to 4).map(r.getInt)).toMap
    val vecs = emb.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    for (qid <- Seq(0L, 1L)) {
      val qv = vecs(qid)
      def adc(id: Long): Double = (0 until 4).map { s =>
        val c = codes(id)(s)
        (0 until 16).map { i =>
          val d = qv(s * 16 + i) - book(s)(c)(i); d * d
        }.sum
      }.sum
      val want = vecs.keys.filter(_ != qid).toSeq
        .sortBy(id => (adc(id), id)).take(5)
      assert(got(qid) == want, s"query $qid: ${got(qid)} != $want")
    }
    // the forced query broadcast stays behind the fail-loud guard
    val e = intercept[IllegalArgumentException] {
      Ann.pqTopK(emb, "vec_id", "emb", col("vec_id") >= 0, k = 3,
        subspaces = 4, centroidsPerSub = 8, dim = 64, maxQueryRows = 5L)
    }
    assert(e.getMessage.contains("pqTopK"))
  }

  test("semanticDedup: lower id survives per ε-ball, oversize cells skip the screen") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // two axis-aligned centroid cells; ids chosen so domination is visible
    val cents = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("centroid_id", "c_emb")
      .withColumn("c_norm",
        sqrt(graft.functions.GraftFunctions.dot(col("c_emb"), col("c_emb"))))
    val vecs = Seq(
      (10L, Seq(1.0, 0.0)),  // cell 0, survivor
      (11L, Seq(2.0, 0.0)),  // cell 0, cos(10,11)=1 -> dominated by 10
      (12L, Seq(1.0, 0.2)),  // cell 0, cos with 10 ~0.9806 < 0.99 -> survives
      (20L, Seq(0.0, 1.0)),  // cell 1, survivor
      (21L, Seq(0.0, 3.0))   // cell 1, cos(20,21)=1 -> dominated by 20
    ).toDF("vec_id", "emb")
    val kept = Ann.semanticDedup(vecs, "vec_id", "emb", cents, threshold = 0.99)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept == Map(10L -> 0L, 12L -> 0L, 20L -> 1L))
    // cap 2: cell 0 (3 members) skips the screen and keeps 11; cell 1 still screens
    val capped = Ann.semanticDedup(vecs, "vec_id", "emb", cents,
      threshold = 0.99, maxClusterSize = 2L)
      .collect().map(_.getLong(0)).toSet
    assert(capped == Set(10L, 11L, 12L, 20L))
    // cap above every cell equals the uncapped result
    val wide = Ann.semanticDedup(vecs, "vec_id", "emb", cents,
      threshold = 0.99, maxClusterSize = 100L)
      .collect().map(_.getLong(0)).toSet
    assert(wide == kept.keySet)
  }

  test("ivfPqTopK equals brute-force ADC restricted to each query's nprobe nearest cells") {
    val book = Ann.pqCodebook(4, 8, 16)
    val got = Ann.ivfPqTopK(emb, "vec_id", "emb", centroids,
      col("vec_id") < 2, k = 5, nprobe = 2, subspaces = 4,
      centroidsPerSub = 8, dim = 64)
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(1)).map(r => r.getLong(2)).toSeq).toMap
    // brute force over the composed semantics: exact cosine argmax cell per
    // vector, each query's two best cells by centroid cosine, ADC rank
    // within candidates from those cells
    val vecs = emb.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val cents = vecs.filter(_._1 < 8)
    def cos(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum /
        (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    val cell = vecs.view.mapValues(v =>
      cents.toSeq.map { case (cid, cv) => (cid, cos(v, cv)) }
        .minBy { case (cid, c) => (-c, cid) }._1).toMap
    val codes = Ann.pqEncode(emb, "vec_id", "emb", 4, 8, 64).collect()
      .map(r => r.getLong(0) -> (1 to 4).map(r.getInt)).toMap
    for (qid <- Seq(0L, 1L)) {
      val qv = vecs(qid)
      val probed = cents.toSeq.map { case (cid, cv) => (cid, cos(qv, cv)) }
        .sortBy { case (cid, c) => (-c, cid) }.take(2).map(_._1).toSet
      def adc(id: Long): Double = (0 until 4).map { s =>
        val c = codes(id)(s)
        (0 until 16).map { i =>
          val d = qv(s * 16 + i) - book(s)(c)(i); d * d
        }.sum
      }.sum
      val want = vecs.keys
        .filter(id => id != qid && probed(cell(id))).toSeq
        .sortBy(id => (adc(id), id)).take(5)
      assert(got(qid) == want, s"query $qid: ${got(qid)} != $want")
    }
  }

  test("ivfPqResidualTopK equals brute-force residual ADC and beats raw-vector PQ distortion") {
    val book = Ann.pqCodebook(4, 8, 16)
    val got = Ann.ivfPqResidualTopK(emb, "vec_id", "emb", centroids,
      col("vec_id") < 2, k = 5, nprobe = 2, subspaces = 4,
      centroidsPerSub = 8, dim = 64)
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(1)).map(r => r.getLong(2)).toSeq).toMap
    val vecs = emb.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val cents = vecs.filter(_._1 < 8)
    def cos(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum /
        (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    val cell = vecs.view.mapValues(v =>
      cents.toSeq.map { case (cid, cv) => (cid, cos(v, cv)) }
        .minBy { case (cid, c) => (-c, cid) }._1).toMap
    // residual codes: argmin per subspace over (x - c(x)) against the book
    def encode(v: Seq[Double], cid: Long): Seq[Int] = {
      val res = v.zip(cents(cid)).map { case (x, c) => x - c }
      (0 until 4).map { s =>
        (0 until 8).minBy { c =>
          ((0 until 16).map { i =>
            val d = res(s * 16 + i) - book(s)(c)(i); d * d
          }.sum, c)
        }
      }
    }
    for (qid <- Seq(0L, 1L)) {
      val qv = vecs(qid)
      val probed = cents.toSeq.map { case (cid, cv) => (cid, cos(qv, cv)) }
        .sortBy { case (cid, c) => (-c, cid) }.take(2).map(_._1).toSet
      // ADC against the PER-CELL query residual
      def adc(id: Long): Double = {
        val cid = cell(id)
        val qres = qv.zip(cents(cid)).map { case (x, c) => x - c }
        val cs = encode(vecs(id), cid)
        (0 until 4).map { s =>
          val c = cs(s)
          (0 until 16).map { i =>
            val d = qres(s * 16 + i) - book(s)(c)(i); d * d
          }.sum
        }.sum
      }
      val want = vecs.keys
        .filter(id => id != qid && probed(cell(id))).toSeq
        .sortBy(id => (adc(id), id)).take(5)
      assert(got(qid) == want, s"query $qid: ${got(qid)} != $want")
    }
    // residuals quantize tighter than raw vectors against the same book:
    // mean squared reconstruction error must not increase
    def sqErr(v: Seq[Double], codes: Seq[Int]): Double =
      (0 until 4).map { s =>
        (0 until 16).map { i =>
          val d = v(s * 16 + i) - book(s)(codes(s))(i); d * d
        }.sum
      }.sum
    def rawEncode(v: Seq[Double]): Seq[Int] = (0 until 4).map { s =>
      (0 until 8).minBy { c =>
        ((0 until 16).map { i =>
          val d = v(s * 16 + i) - book(s)(c)(i); d * d
        }.sum, c)
      }
    }
    val rawMse = vecs.map { case (_, v) => sqErr(v, rawEncode(v)) }.sum
    val resMse = vecs.map { case (id, v) =>
      val res = v.zip(cents(cell(id))).map { case (x, c) => x - c }
      sqErr(res, encode(v, cell(id)))
    }.sum
    assert(resMse <= rawMse,
      s"residual MSE $resMse should not exceed raw MSE $rawMse")
  }

  test("kmeansFit is deterministic, exact-count, and its centroids compose with ivfAssign/semanticDedup") {
    val fit = Ann.kmeansFit(emb, "vec_id", "emb", k = 4, iters = 2, dim = 64)
    val rows = fit.collect()
    // every sampled vector lands in exactly one cluster, every round
    assert(rows.map(_.getAs[Long]("n")).sum == emb.count())
    assert(rows.length <= 4 && rows.nonEmpty)
    // bit-identical across a full re-fit: hash seeding + exact quantized
    // mean sums leave no partition-order dependence anywhere
    val refit = Ann.kmeansFit(emb, "vec_id", "emb", k = 4, iters = 2, dim = 64)
    assert(refit.collect().map(_.toString).sorted.sameElements(
      rows.map(_.toString).sorted))
    // centroid components stay inside the sampled data's component range
    val stats = emb.select(
      min(array_min(col("emb"))).as("lo"), max(array_max(col("emb"))).as("hi"))
      .head()
    val (lo, hi) = (stats.getAs[Double]("lo"), stats.getAs[Double]("hi"))
    rows.foreach(_.getAs[scala.collection.Seq[Double]]("c_emb").foreach(x =>
      assert(x >= lo - 1e-6 && x <= hi + 1e-6)))
    // the self-containment composition (r6 verdict #4): fitted centroids
    // drive assignment and the dd47 semantic screen with no caller-supplied
    // centroid frame anywhere
    val fitted = Ann.kmeansCentroids(fit)
    val assigned = Ann.ivfAssign(emb, "vec_id", "emb", fitted)
    assert(assigned.count() == emb.count())
    val kept = Ann.semanticDedup(emb, "vec_id", "emb", fitted,
      threshold = 0.999)
    val keptN = kept.count()
    assert(keptN > 0 && keptN <= emb.count())
  }

  test("pqFit: per-subspace fits are independent slices of the kmeans machinery") {
    val fit = Ann.pqFit(emb, "vec_id", "emb", subspaces = 4,
      centroidsPerSub = 8, iters = 2, dim = 64).collect()
    // each subspace conserves the corpus mass independently
    val n = emb.count()
    fit.groupBy(_.getAs[Int]("subspace")).foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Long]("n")).sum == n)
      assert(rows.length <= 8 && rows.nonEmpty)
      rows.foreach(r => assert(r.getAs[scala.collection.Seq[Double]]("c_emb").size == 16))
    }
    // subspace 0's fit IS kmeansFit on the first 16 components — the
    // product structure, pinned
    val sub0 = Ann.kmeansFit(
      emb.select(col("vec_id"), slice(col("emb"), 1, 16).as("sub")),
      "vec_id", "sub", k = 8, iters = 2, dim = 16).collect()
      .map(r => (r.getAs[Int]("centroid_id"), r.getAs[Long]("n"),
        r.getAs[scala.collection.Seq[Double]]("c_emb"))).sortBy(_._1)
    val got0 = fit.filter(_.getAs[Int]("subspace") == 0)
      .map(r => (r.getAs[Int]("centroid_id"), r.getAs[Long]("n"),
        r.getAs[scala.collection.Seq[Double]]("c_emb"))).sortBy(_._1)
    assert(got0.toSeq == sub0.toSeq)
  }

  test("semanticScreen drops exactly the reference-dominated batch vectors, and the index is reusable") {
    import spark.implicits._
    // two well-separated directions; centroids = one per direction
    def v(main: Int, seed: Int): Array[Double] =
      Array.tabulate(8)(d => if (d == main) 10.0 else 0.01 * ((seed + d) % 3))
    val ref = Seq(
      (100L, v(0, 1)), (101L, v(0, 2)), // cell 0 members
      (102L, v(4, 1))                    // cell 1 member
    ).toDF("vec_id", "emb")
    val batch = Seq(
      (1L, v(0, 1)), // identical to ref 100 -> dominated, dropped
      (2L, v(4, 2)), // near ref 102 in cell 1 -> dominated, dropped
      (3L, Array.tabulate(8)(d => if (d == 4) -10.0 else 0.0)) // anti-aligned: same cell best, cos < 0 -> kept
    ).toDF("vec_id", "emb")
    val centroids = Seq((0L, v(0, 0)), (1L, v(4, 0))).toDF("centroid_id", "c_emb")
      .withColumn("c_norm",
        sqrt(graft.functions.GraftFunctions.dot(col("c_emb"), col("c_emb"))))
    val index = Ann.buildSemanticIndex(ref, "vec_id", "emb", centroids)
    val kept = Ann.semanticScreen(index, batch, "vec_id", "emb", centroids,
      threshold = 0.9).select("vec_id").as[Long].collect().toSet
    assert(kept == Set(3L))
    // the index is a frame, not a consumable: a second batch sees the
    // same reference state
    val kept2 = Ann.semanticScreen(index, batch.filter(col("vec_id") =!= 1),
      "vec_id", "emb", centroids, threshold = 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(kept2 == Set(3L))
    // lowering the threshold can only drop MORE
    val keptLow = Ann.semanticScreen(index, batch, "vec_id", "emb", centroids,
      threshold = -1.0).select("vec_id").as[Long].collect().toSet
    assert(keptLow.subsetOf(kept))
  }

  test("knnGraph: every vector gets its same-cell brute-force top-k; cap skips oversize cells") {
    val got = Ann.knnGraph(emb, "vec_id", "emb", centroids, k = 3)
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(1)).map(r => r.getLong(2)).toSeq).toMap
    val vecs = emb.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val cents = vecs.filter(_._1 < 8)
    def cos(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum /
        (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    val cell = vecs.view.mapValues(v =>
      cents.toSeq.map { case (cid, cv) => (cid, cos(v, cv)) }
        .minBy { case (cid, c) => (-c, cid) }._1).toMap
    for ((qid, qv) <- vecs) {
      val want = vecs.keys
        .filter(id => id != qid && cell(id) == cell(qid)).toSeq
        .sortBy(id => (-cos(qv, vecs(id)), id)).take(3)
      assert(got.getOrElse(qid, Nil) == want, s"query $qid")
    }
    // every vector with a non-singleton cell appears as a query
    val nonSingleton = vecs.keys.count(id => vecs.keys.exists(o =>
      o != id && cell(o) == cell(id)))
    assert(got.size == nonSingleton)
    // a cap below the largest cell size drops that cell's rows entirely
    val largest = cell.values.groupBy(identity).map(_._2.size).max
    val capped = Ann.knnGraph(emb, "vec_id", "emb", centroids, k = 3,
      maxCellSize = largest - 1)
      .select("query_id").collect().map(_.getLong(0)).toSet
    assert(capped.subsetOf(got.keySet) && capped.size < got.size)
  }

  test("knnGraphIncremental recomputes ONLY touched cells and equals a full rebuild") {
    val evens = emb.filter(col("vec_id") % 2 === 0)
    val odds = emb.filter(col("vec_id") % 2 === 1)
    val old = Ann.knnGraph(evens, "vec_id", "emb", centroids, k = 3)
      .localCheckpoint(true)
    val full = Ann.knnGraph(emb, "vec_id", "emb", centroids, k = 3)
    val inc = Ann.knnGraphIncremental(old, evens, odds, "vec_id", "emb",
      centroids, k = 3)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect().toSeq
    assert(canon(inc) == canon(full))

    // untouched cells must be carried VERBATIM: restrict the batch to one
    // vector and poison an old row in a DIFFERENT cell — the poison survives
    val assigned = Ann.ivfAssign(emb, "vec_id", "emb", centroids)
    val cells = assigned.select("vec_id", "centroid_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val odd = cells.keys.filter(_ % 2 == 1).head
    val otherCell = cells.values.toSet.find(_ != cells(odd)).get
    val poisoned = old.withColumn("cos",
      when(col("cell") === otherCell && col("rank") === 1, lit(99.0))
        .otherwise(col("cos")))
    val inc2 = Ann.knnGraphIncremental(poisoned, evens,
      emb.filter(col("vec_id") === odd), "vec_id", "emb", centroids, k = 3)
    assert(inc2.filter(col("cos") === 99.0).count() > 0,
      "rows of untouched cells must be kept verbatim, not recomputed")
    assert(inc2.filter(col("cell") === cells(odd) && col("cos") === 99.0)
      .count() == 0, "touched cells must be recomputed")

    // CAPPED builds: threading the old graph's maxCellSize through the
    // incremental path keeps the full-rebuild row identity — without it,
    // a recomputed touched cell would resurrect oversize cells the
    // original build skipped
    val cellSizes = cells.values.groupBy(identity).map(_._2.size)
    val cap = cellSizes.max - 1
    val oldCapped = Ann.knnGraph(evens, "vec_id", "emb", centroids, k = 3,
      maxCellSize = cap).localCheckpoint(true)
    val fullCapped = Ann.knnGraph(emb, "vec_id", "emb", centroids, k = 3,
      maxCellSize = cap)
    val incCapped = Ann.knnGraphIncremental(oldCapped, evens, odds,
      "vec_id", "emb", centroids, k = 3, maxCellSize = cap)
    assert(canon(incCapped) == canon(fullCapped),
      "capped incremental must equal a capped full rebuild")
  }

  test("equal scores rank by candidate id ascending in every top-k search") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // ids 5, 3, 4 duplicate query 1's vector: equal top cosine, and equal
    // PQ codes, hence the least ADC. The top 2 must be 3 then 4.
    val q = Seq(1.0, 0.0, 0.0, 0.0)
    val vecs = Seq((1L, q), (5L, q), (3L, q), (4L, q),
      (2L, Seq(0.0, 1.0, 0.0, 0.0)), (6L, Seq(0.5, 0.5, 0.0, 0.0)))
      .toDF("vec_id", "emb")
    // one centroid: every vector shares one cell
    val cents = Seq((0L, Seq(1.0, 1.0, 0.0, 0.0))).toDF("centroid_id", "c_emb")
      .withColumn("c_norm",
        sqrt(graft.functions.GraftFunctions.dot(col("c_emb"), col("c_emb"))))
    val isQ = col("vec_id") === 1
    def top(df: org.apache.spark.sql.DataFrame): Seq[(Int, Long)] =
      df.filter(col("query_id") === 1).select("rank", "neighbor_id")
        .as[(Int, Long)].collect().sortBy(_._1).toSeq
    val want = Seq(1 -> 3L, 2 -> 4L)
    val results = Seq(
      "cosineTopK" -> Ann.cosineTopK(vecs, "vec_id", "emb", isQ, k = 2),
      "ivfProbe" -> Ann.ivfProbe(Ann.ivfAssign(vecs, "vec_id", "emb", cents),
        cents, isQ, k = 2),
      "knnGraph" -> Ann.knnGraph(vecs, "vec_id", "emb", cents, k = 2),
      "pqTopK" -> Ann.pqTopK(vecs, "vec_id", "emb", isQ, k = 2,
        subspaces = 2, centroidsPerSub = 8, dim = 4),
      "ivfPqTopK" -> Ann.ivfPqTopK(vecs, "vec_id", "emb", cents, isQ, k = 2,
        nprobe = 1, subspaces = 2, centroidsPerSub = 8, dim = 4),
      "rerankTopK" -> Ann.rerankTopK(vecs, "vec_id", "emb",
        Seq(5L, 4L, 3L, 2L).map(1L -> _).toDF("query_id", "neighbor_id"), k = 2))
    results.foreach { case (name, df) => assert(top(df) == want, name) }
  }

  test("nprobeSweep: recall is monotone in nprobe and reaches 1.0 once every cell is probed") {
    val sweep = Ann.nprobeSweep(emb, "vec_id", "emb", centroids,
      queryPred = col("vec_id") < 5, k = 3, maxNprobe = 8)
      .orderBy("nprobe").collect()
    assert(sweep.length == 8)
    // monotone booleans hold on every row
    assert(sweep.forall(_.getAs[Boolean]("recall_non_decreasing")))
    val recalls = sweep.map(_.getAs[Double]("recall")).toSeq
    assert(recalls.zip(recalls.tail).forall { case (a, b) => b >= a })
    // probing ALL 8 cells IS the brute-force scan: recall must be exactly 1
    assert(recalls.last == 1.0,
      s"nprobe = all cells must recover the exact top-k, got ${recalls.last}")
    assert(sweep.forall(r => r.getAs[Long]("sum_hits") <= r.getAs[Long]("sum_k")))
  }

  test("recallAtK: exact self-recall is 1, disjoint is 0, partial counts hits/k") {
    import spark.implicits._
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (2L, 21L))
      .toDF("query_id", "neighbor_id")
    // query 1 finds 2 of 3; query 2 finds none; query 3 (not in exact) ignored
    val approx = Seq((1L, 10L), (1L, 12L), (1L, 99L), (2L, 98L), (3L, 30L))
      .toDF("query_id", "neighbor_id")
    val r = Ann.recallAtK(approx, exact, "query_id", "neighbor_id")
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3))))
      .toMap
    assert(r.keySet == Set(1L, 2L))
    assert(r(1L) == ((2L, 3L, 2.0 / 3.0)))
    assert(r(2L) == ((0L, 2L, 0.0)))
    // identity: an exact result evaluated against itself scores 1.0 everywhere
    val self = Ann.recallAtK(exact, exact, "query_id", "neighbor_id")
      .select("recall").as[Double].collect()
    assert(self.length == 2 && self.forall(_ == 1.0))
  }

  test("randomProject: exact signed sums, independent of the LSH sign stream, pure projection") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val vecs = Seq(
      (1L, (1 to 8).map(_.toDouble)),
      (2L, (1 to 8).map(i => if (i % 2 == 0) -i.toDouble else i.toDouble)),
      (3L, Seq.fill(8)(0.0)))
    val df = vecs.toDF("vec_id", "emb")
    val out = Ann.randomProject(df, "vec_id", "emb", dim = 8, outDim = 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // independent md5 recomputation of the rp-salted sign convention
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(j: Int, i: Int): Double = {
      val hex = md.digest(s"rp-$j-$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (hex.charAt(0) < '8') 1.0 else -1.0
    }
    vecs.foreach { case (id, v) =>
      (0 until 3).foreach { j =>
        val expect = (1 to 8).map(i => v(i - 1) * sign(j, i)).sum
        assert(out(id)(j) == expect, s"vec $id dim $j")
      }
    }
    // the rp salt draws a DIFFERENT stream than the LSH planes — a shared
    // stream would correlate the projection with the bucketing
    val rp = Ann.projectionSigns(3, 8)
    val lsh = Ann.hyperplaneSigns(3, 8)
    assert(rp != lsh, "projection signs must not reuse the LSH stream")
    // scale contract: a pure map-stage projection, no exchange
    val plan = Ann.randomProject(emb, "vec_id", "emb", dim = 64, outDim = 16)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"randomProject must be a pure projection:\n$plan")
  }

  test("quantizeInt8: values span [-127,127], dequantization error <= scale/2, zero vector safe") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Seq(0.5, -1.0, 0.25, 0.0)),
      (2L, Seq(0.0, 0.0, 0.0, 0.0)),     // all-zero: qvec zeros, scale 0
      (3L, Seq(3.0, 2.9999, -3.0, 1.5)))
      .toDF("vec_id", "emb")
    val q = Ann.quantizeInt8(vecs, "vec_id", "emb").collect()
      .map(r => r.getLong(0) -> ((r.getSeq[Int](1), r.getDouble(2)))).toMap
    assert(q(2L) == ((Seq(0, 0, 0, 0), 0.0)))
    // the max-abs component maps exactly to +/-127
    assert(q(1L)._1 == Seq(64, -127, 32, 0) && q(1L)._2 == 1.0 / 127.0)
    assert(q(3L)._1(0) == 127 && q(3L)._1(2) == -127)
    // reconstruction bound: |x - q*scale| <= scale/2 for every component
    val in = Map(1L -> Seq(0.5, -1.0, 0.25, 0.0), 3L -> Seq(3.0, 2.9999, -3.0, 1.5))
    for ((id, xs) <- in; (x, i) <- xs.zipWithIndex) {
      val (qv, scale) = q(id)
      assert(math.abs(x - qv(i) * scale) <= scale / 2 + 1e-12,
        s"vec $id dim $i: x=$x q=${qv(i)} scale=$scale")
    }
  }
}
