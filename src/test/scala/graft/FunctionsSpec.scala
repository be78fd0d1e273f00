package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.functions.VectorFunctions
import graft.streaming.StreamOps

/** UDF/UDAF surface + flatMapGroupsWithState + SQL function registration. */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("VectorCentroid aggregator computes per-group elementwise means") {
    val df = Seq(
      (0, Array(1.0f, 2.0f)), (0, Array(3.0f, 4.0f)),
      (1, Array(10.0f, 20.0f)))
      .toDF("label", "embedding")
    df.createOrReplaceTempView("vecs")
    val out = spark.sql(
        "SELECT label, graft_centroid(embedding) AS c FROM vecs GROUP BY label")
      .as[(Int, Array[Float])].collect().toMap
    assert(out(0).toSeq == Seq(2.0f, 3.0f))
    assert(out(1).toSeq == Seq(10.0f, 20.0f))
  }

  test("charEntropy UDF: uniform strings high, constant strings zero") {
    val out = Seq(("aaaa", 1), ("abcd", 2)).toDF("s", "id")
      .selectExpr("id", "graft_char_entropy(s) AS e")
      .as[(Int, Double)].collect().toMap
    assert(out(1) == 0.0)
    assert(math.abs(out(2) - 2.0) < 1e-12) // 4 distinct chars → 2 bits
  }

  test("graft_topk keeps the k largest values with O(k) state") {
    (1 to 100).map(i => (i % 3, i.toDouble)).toDF("g", "v")
      .createOrReplaceTempView("topk_in")
    val out = spark.sql("SELECT g, graft_topk(v, 4) AS t FROM topk_in GROUP BY g")
      .as[(Int, Seq[Double])].collect().toMap
    assert(out(0) == Seq(99.0, 96.0, 93.0, 90.0))
    assert(out(1) == Seq(100.0, 97.0, 94.0, 91.0))
    // fewer rows than k → all of them, descending
    val small = Seq((9, 5.0), (9, 1.0)).toDF("g", "v")
    small.createOrReplaceTempView("topk_small")
    val s2 = spark.sql("SELECT graft_topk(v, 4) AS t FROM topk_small").as[Seq[Double]].head()
    assert(s2 == Seq(5.0, 1.0))
  }

  test("TopKScoredIds keeps the k best (score, id) pairs, ties toward smaller id") {
    import org.apache.spark.sql.functions.col
    // scores collide on purpose: ids 10/20/30 all score 5.0 — the two
    // smaller ids must win the tie, in id order
    val df = Seq((1L, 5.0), (10L, 5.0), (20L, 5.0), (30L, 5.0), (2L, 7.0), (3L, 1.0))
      .toDF("id", "s").withColumn("g", org.apache.spark.sql.functions.lit(0))
    val top = df.groupBy(col("g"))
      .agg(graft.functions.TopKScoredIds.agg(col("s"), col("id"), 4).as("t"))
      .selectExpr("t.id AS ids", "t.score AS scores")
      .as[(Seq[Long], Seq[Double])].head()
    assert(top._2 == Seq(7.0, 5.0, 5.0, 5.0))
    assert(top._1 == Seq(2L, 1L, 10L, 20L),
      s"expected score-desc then id-asc ordering, got ${top._1}")
    // agrees with the window formulation on a larger random-ish set
    val big = (1 to 500).map(i => ((i * 37 % 97).toLong + i, (i * 13 % 41).toDouble))
      .toDF("id", "s").withColumn("g", col("id") % 3)
    val viaAgg = big.groupBy(col("g"))
      .agg(graft.functions.TopKScoredIds.agg(col("s"), col("id"), 7).as("t"))
      .selectExpr("g", "explode(t.id) AS id").as[(Long, Long)].collect().sorted.toSeq
    val w = org.apache.spark.sql.expressions.Window.partitionBy("g")
      .orderBy(col("s").desc, col("id").asc)
    val viaWin = big.withColumn("r", org.apache.spark.sql.functions.row_number().over(w))
      .where(col("r") <= 7).select("g", "id").as[(Long, Long)].collect().sorted.toSeq
    assert(viaAgg == viaWin, "heap aggregate must equal the window top-k")
  }

  test("SigMatchCount equals the zip_with/filter lane-match formulation") {
    import org.apache.spark.sql.functions._
    val df = Seq(
      (Seq(1L, 2L, 3L, 4L), Seq(1L, 9L, 3L, 7L)), // 2 matches
      (Seq(5L, 5L), Seq(5L, 5L)),                 // all match
      (Seq(1L, 2L), Seq(3L, 4L))                  // none
    ).toDF("a", "b")
    val got = df.select(
        VectorFunctions.sigMatchCount(col("a"), col("b")).as("m"),
        size(filter(zip_with(col("a"), col("b"), (x, y) => x === y), v => v)).as("ref"))
      .as[(Int, Int)].collect()
    got.foreach { case (m, ref) => assert(m == ref, s"$m != $ref") }
    assert(got.map(_._1).toSeq == Seq(2, 2, 0))
    // SQL surface
    df.createOrReplaceTempView("sig_match_in")
    val viaSql = spark.sql("SELECT graft_sig_matches(a, b) FROM sig_match_in")
      .as[Int].collect().toSeq
    assert(viaSql == Seq(2, 2, 0))
  }

  test("SQL surface: graft_byte_histogram / graft_byte_gram_signature match the column API") {
    import org.apache.spark.sql.functions._
    val df = Seq((1L, "alpha beta gamma"), (2L, "zz"))
      .toDF("id", "t")
      .select(col("id"), col("t").cast("binary").as("bytes"))
    df.createOrReplaceTempView("bgs_in")
    val viaSql = spark.sql(
      """SELECT id, graft_byte_histogram(bytes) AS h,
        |       graft_byte_gram_signature(bytes, 64) AS s
        |FROM bgs_in""".stripMargin)
      .as[(Long, Array[Int], Array[Float])].collect().sortBy(_._1)
    val viaCol = df.select(col("id"),
        graft.functions.ByteHistogram.of(col("bytes")).as("h"),
        graft.functions.ByteGramSignature.of(col("bytes"), 64).as("s"))
      .as[(Long, Array[Int], Array[Float])].collect().sortBy(_._1)
    assert(viaSql.map(_._2.toSeq).toSeq == viaCol.map(_._2.toSeq).toSeq)
    assert(viaSql.map(_._3.toSeq).toSeq == viaCol.map(_._3.toSeq).toSeq)
    // a 2-byte payload has no 4-byte window: all-zero signature
    assert(viaSql(1)._3.forall(_ == 0.0f))
  }

  test("packed-byte signature match count preserves lane agreement and only over-counts") {
    import org.apache.spark.sql.functions._
    // random-ish signatures with planted agreement patterns
    val rows = (1 to 200).map { i =>
      val a = Array.tabulate(48)(j => (i * 7919L + j * 104729L) % 1000003L)
      // b agrees with a on lanes where (i+j) % 3 == 0, else differs
      val b = Array.tabulate(48)(j =>
        if ((i + j) % 3 == 0) a(j) else a(j) + 1 + (j % 5))
      (a.toSeq, b.toSeq)
    }
    val df = rows.toDF("a", "b")
    val got = df.select(
        VectorFunctions.sigMatchCount(col("a"), col("b")).as("exact"),
        VectorFunctions.byteMatchCount(
          VectorFunctions.packSigBytes(col("a")),
          VectorFunctions.packSigBytes(col("b"))).as("packed"))
      .as[(Int, Int)].collect()
    got.foreach { case (exact, packed) =>
      // equal lanes always produce equal bytes; unequal lanes can
      // collide into a byte match but never the reverse — the packed
      // count is an upper bound on the exact count
      assert(packed >= exact, s"packed $packed < exact $exact")
      assert(packed <= 48)
    }
    // identical signatures: every byte matches
    val self = df.select(VectorFunctions.byteMatchCount(
      VectorFunctions.packSigBytes(col("a")),
      VectorFunctions.packSigBytes(col("a"))).as("m")).as[Int].collect()
    assert(self.forall(_ == 48))
    // packing is 1 byte per lane
    val len = df.select(length(VectorFunctions.packSigBytes(col("a")))).as[Int].head()
    assert(len == 48)
  }

  test("packed signature geometry mismatch fails loudly, not as zero matches") {
    import org.apache.spark.sql.functions._
    // probing an index written with a different estHashes must throw —
    // a lenient min-length count would silently drop every pair
    val df = Seq((Seq.fill(192)(7L), Seq.fill(48)(7L))).toDF("a", "b")
    val ex = intercept[Exception] {
      df.select(VectorFunctions.byteMatchCount(
        VectorFunctions.packSigBytes(col("a")),
        VectorFunctions.packSigBytes(col("b")))).collect()
    }
    def root(t: Throwable): Throwable =
      if (t.getCause == null || t.getCause == t) t else root(t.getCause)
    assert(root(ex).getMessage.contains("geometry mismatch"))
  }

  test("graft_cosine SQL registration works through spark.sql") {
    Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f))).toDF("a", "b")
      .createOrReplaceTempView("cos_in")
    val c = spark.sql("SELECT graft_cosine(a, b) AS c FROM cos_in").as[Double].head()
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("transformWithState accumulates running state (RocksDB store)") {
    // isolated session: the RocksDB provider conf must not leak into
    // concurrently running streaming suites
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    val input = MemoryStream[(Long, Double)](21, s2, None)
    val q = StreamOps.runningUserStateTws(s2, input.toDS())
      .writeStream.format("memory").queryName("tws")
      .outputMode(OutputMode.Update()).start()
    input.addData((1L, 1.0), (1L, 2.0), (2L, 10.0))
    q.processAllAvailable()
    input.addData((1L, 4.0))
    q.processAllAvailable(); q.stop()
    val byUser = s2.table("tws")
      .groupBy("userId").agg(max("nEvents").as("n"), max("totalValue").as("v"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(byUser(1L) == ((3L, 7.0)))
    assert(byUser(2L) == ((1L, 10.0)))
  }

  test("count-min sketch: never undercounts, bounded overcount, exact mergeability") {
    import graft.functions.CountMin
    val events = graft.ops.Tables.table(spark, sf, "events")
    val truth = events.groupBy("user_id").count()
      .as[(Long, Long)].collect().toMap
    val n = truth.values.sum
    val sketch = events.agg(CountMin.agg(col("user_id")).as("sk"))
      .select("sk").as[Array[Long]].head()
    truth.foreach { case (u, exact) =>
      val est = CountMin.estimateLocal(sketch, u)
      assert(est >= exact, s"CMS undercounted user $u: $est < $exact")
      assert(est <= exact + 4 * n / CountMin.DefaultWidth + 1,
        s"CMS overcount out of bound for user $u: $est vs $exact (n=$n)")
    }
    // merge is exact elementwise addition → bit-identical to the whole
    // sketch regardless of how the input was split
    val merged = events.repartition(7)
      .withColumn("part", pmod(col("event_id"), lit(3)))
      .groupBy("part").agg(CountMin.agg(col("user_id")).as("sk"))
      .agg(CountMin.unionAgg(col("sk")).as("sk"))
      .select("sk").as[Array[Long]].head()
    assert(merged.toSeq == sketch.toSeq,
      "union of partial sketches must equal the whole-data sketch exactly")
  }

  test("flatMapGroupsWithState emits an alert per threshold crossing") {
    val input = MemoryStream[(Long, Double)](20, spark, None)
    val q = StreamOps.thresholdAlerts(spark, input.toDS(), step = 10.0)
      .writeStream.format("memory").queryName("alerts")
      .outputMode(OutputMode.Append()).start()
    input.addData((1L, 6.0), (1L, 5.0)) // crosses 10
    q.processAllAvailable()
    input.addData((1L, 25.0))           // crosses 20 and 30
    q.processAllAvailable(); q.stop()
    val crossings = spark.table("alerts").select("crossedAt").as[Long].collect().sorted
    assert(crossings.toSeq == Seq(1L, 2L, 3L))
  }

  test("PortableLn (compiled node) is bit-identical to the lnOfInt Column macro") {
    import graft.functions.PortableSketches.{lnOfInt, lnOfIntFast}
    import org.apache.spark.sql.functions._
    // exhaustive small range + the q110 Gumbel-mantissa magnitudes
    // (floor(t·2^40) reaches ~2^44) + bit-length boundaries: the two
    // formulations must agree on all 64 BITS, not within an epsilon —
    // the differential oracle replays the macro's SQL twin, so any
    // drift is a correctness red, not a precision nit
    val big = Seq((1L << 24) + 1L, (1L << 40) - 1L, 1L << 40, (1L << 44) + 12345L) ++
      (1 to 60).map(i => (1L << (i % 45)) + i.toLong)
    val vals = (1L to 5000L) ++ big
    val rows = vals.toDF("v").select(
      lnOfInt(col("v")).as("macroLn"), lnOfIntFast(col("v")).as("fastLn"))
      .collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"bit mismatch: macro=${r.getDouble(0)} fast=${r.getDouble(1)}")
    }
  }

  test("portable HLL: series-ln matches math.log and estimates stay in 3-sigma") {
    import graft.functions.PortableSketches._
    import org.apache.spark.sql.functions._
    // the fixed-order atanh series vs libm, over the whole lincount
    // input range (V in 1..m): truncation must be far below a double ulp
    // of the downstream estimate
    val lnRows = spark.range(1, 257).select(col("id"),
      graft.functions.PortableSketches.lnOfInt(col("id")).as("s"))
      .collect()
    lnRows.foreach { r =>
      val (v, s) = (r.getLong(0), r.getDouble(1))
      assert(math.abs(s - math.log(v.toDouble)) < 1e-11,
        s"series ln($v)=$s vs ${math.log(v.toDouble)}")
    }
    // estimator accuracy across the lincount/raw-HLL switch: distinct
    // cardinalities below and above the 2.5m = 640 gate
    for (n <- Seq(40, 150, 640, 5000, 50000)) {
      val est = spark.range(1, n + 1)
        .select(hllDigest(col("id")).as("d"))
        .groupBy(hllBucket(col("d")).as("bucket"))
        .agg(max(hllRho(col("d"))).as("r"))
        .agg(sum(hllRegisterTerm(col("r"))).as("zsum"), count(lit(1)).as("present"))
        .select(hllEstimate(col("zsum"), col("present")).as("est"))
        .head().getDouble(0)
      val sigma = 1.04 / math.sqrt(HllM.toDouble)
      assert(math.abs(est - n) / n < 3 * sigma + 0.02,
        s"portable HLL n=$n est=$est outside 3 sigma")
    }
  }

  test("GramAnchors equals the builtin-HOF formulation, ASCII and multibyte") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(20260813L)
    val alphaAscii = "abcdefgh "
    val alphaUni = "abcδλ語 é𝕏" // multibyte incl. an astral (surrogate-pair) char
    def doc(alpha: String, len: Int): String =
      Seq.fill(len)(alpha(rnd.nextInt(alpha.length))).mkString
    // repetition-heavy so windows tie often (leftmost-tie rule exercised)
    val docs = ((1 to 12).map(i => (i.toLong, doc(alphaAscii, 40 + rnd.nextInt(120)))) ++
      (13 to 24).map(i => (i.toLong, doc(alphaUni, 40 + rnd.nextInt(120)))) ++
      Seq(25L -> "short", 26L -> doc(alphaAscii, 12))).toDF("id", "text")
    val spanLen = 10
    for (window <- Seq(0, 1, 4, 8, 64)) {
      // reference: the round-5 column formulation (hex-string hashes,
      // per-window argmin fold, distinct), evaluated via Spark builtins
      val hashes = transform(
        sequence(lit(1), length(col("text")) - lit(spanLen - 1)),
        p => md5(col("text").substr(p, lit(spanLen))))
      def half(m: org.apache.spark.sql.Column, off: Int) =
        shiftleft(conv(substring(m, off, 8), 16, 10).cast("long"), 32)
          .bitwiseOR(conv(substring(m, off + 8, 8), 16, 10).cast("long"))
      val refRows =
        if (window == 0)
          docs.where(length(col("text")) >= spanLen)
            .select(col("id"), posexplode(hashes).as(Seq("__p", "__m")))
            .select(col("id"), (col("__p") + 1).cast("long").as("pos"),
              half(col("__m"), 1).as("h1"), half(col("__m"), 17).as("h2"))
        else {
          val wEff = least(lit(window), size(col("__hs")))
          val anchorPositions = array_distinct(transform(
            sequence(wEff, size(col("__hs"))),
            e => aggregate(
              sequence(e - wEff + 1, e),
              struct(element_at(col("__hs"), e - wEff + 1).as("m"),
                (e - wEff + 1).as("p")),
              (acc, i) => when(element_at(col("__hs"), i) < acc.getField("m"),
                struct(element_at(col("__hs"), i).as("m"), i.as("p")))
                .otherwise(acc))
              .getField("p")))
          val anchorPairs = transform(anchorPositions,
            p => struct(p.as("p"), element_at(col("__hs"), p).as("m")))
          docs.where(length(col("text")) >= spanLen)
            .select(col("id"), hashes.as("__hs"))
            .select(col("id"), explode(anchorPairs).as("__a"))
            .select(col("id"), col("__a.p").cast("long").as("pos"),
              half(col("__a.m"), 1).as("h1"), half(col("__a.m"), 17).as("h2"))
        }
      val got = docs.where(length(col("text")) >= spanLen)
        .select(col("id"),
          explode(graft.functions.GramAnchors.grams(col("text"), spanLen, window)).as("__a"))
        .select(col("id"), col("__a.pos").as("pos"),
          col("__a.h1").as("h1"), col("__a.h2").as("h2"))
      val r = refRows.as[(Long, Long, Long, Long)].collect().toSeq.sorted
      val g = got.as[(Long, Long, Long, Long)].collect().toSeq.sorted
      assert(g == r, s"GramAnchors mismatch at window=$window: " +
        s"got ${g.take(5)}... expected ${r.take(5)}...")
    }
  }

  test("NearestCentroids equals the inlined argmax/sort formulation, ties included") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(424242L)
    val dim = 16
    def cents0(d: Int): Array[Float] = Array.tabulate(d)(j => if (j == 0) 1f else 0f)
    val cents: Array[(Long, Array[Float])] = Array.tabulate(7) { i =>
      ((i + 3).toLong, Array.fill(dim)((rnd.nextInt(5) - 2).toFloat))
    } :+ ((99L, cents0(dim))) :+ ((100L, cents0(dim))) // two identical -> cos tie
    val vecs = ((1 to 60).map { i =>
      (i.toLong, Array.fill(dim)((rnd.nextInt(7) - 3).toFloat))
    } :+ (61L, Array.fill(dim)(0f))).toDF("id", "vec") // zero vector edge
    for (k <- Seq(1, 2, 4)) {
      val ref = vecs.select(col("id"),
        transform(slice(array_sort(array(cents.toIndexedSeq.map { case (cid, cv) =>
          struct((lit(0.0) - graft.functions.VectorFunctions.cosine(col("vec"), typedLit(cv))).as("ncos"),
            lit(cid).as("cent_id"))
        }: _*)), 1, k), c => c.getField("cent_id")).as("cells"))
        .as[(Long, Seq[Long])].collect().toMap
      val got = vecs.select(col("id"),
        graft.functions.VectorFunctions.nearestCentroids(col("vec"), cents, k).as("cells"))
        .as[(Long, Seq[Long])].collect().toMap
      assert(got == ref, s"NearestCentroids mismatch at k=$k")
    }
  }

  test("NearestCentroids clamps k to the model size and matches CosineSimilarity on dim mismatch") {
    import org.apache.spark.sql.functions._
    // 2 centroids but k=4 (a tiny corpus handing back fewer seed cells
    // than nprobe) — must degrade to 2 cells, not throw
    val cents: Array[(Long, Array[Float])] =
      Array((10L, Array(1f, 0f, 0f)), (20L, Array(0f, 1f, 0f)))
    val vecs = Seq((1L, Array(1f, 1f, 0f))).toDF("id", "vec")
    val clamped = vecs.select(
      graft.functions.VectorFunctions.nearestCentroids(col("vec"), cents, 4).as("cells"))
      .as[Seq[Long]].head()
    assert(clamped.toSet == Set(10L, 20L))
    // dimension-mismatched query (dim 2 vs centroid dim 3): scores must
    // replay CosineSimilarity's truncated-common-prefix arithmetic exactly
    val mm = Seq((1L, Array(3f, 4f))).toDF("id", "vec")
    val viaCents = mm.select(
      graft.functions.VectorFunctions.nearestCentroidsScored(col("vec"), cents, 2).as("cs"))
    val scored = viaCents.select(explode(col("cs")).as("c"))
      .select(col("c.cid"), col("c.cos")).as[(Long, Double)].collect().toMap
    val perPair = cents.map { case (cid, cv) =>
      cid -> mm.select(graft.functions.VectorFunctions.cosine(col("vec"), typedLit(cv)))
        .as[Double].head()
    }.toMap
    assert(scored == perPair,
      s"dim-mismatch scores diverge from per-pair cosine: $scored vs $perPair")
  }

  test("portable CMS: estimates never undercount and hit exact counts sans collisions") {
    import graft.functions.PortableSketches._
    import org.apache.spark.sql.functions._
    // zipf-ish stream: key k appears 1000/k times, k = 1..50
    val rows = (1 to 50).flatMap(k => Seq.fill(1000 / k)(k.toLong))
    val df = rows.toDF("v")
    val lanes = df
      .select(posexplode(cmsBuckets(col("v"))).as(Seq("lane", "bucket")))
      .groupBy("lane", "bucket").agg(count(lit(1)).as("cnt"))
    val truth = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    for (k <- Seq(1L, 7L, 29L, 50L)) {
      val est = lanes.agg(
        least(cmsKeyBuckets(k.toString).zipWithIndex.map { case (bk, lane) =>
          sum(when(col("lane") === lane && col("bucket") === bk, col("cnt"))
            .otherwise(0L))
        }: _*).as("est")).head().getLong(0)
      assert(est >= truth(k), s"CMS undercounted key $k: $est < ${truth(k)}")
      // stream is ~4.5k values over width 1024 — collisions add at most
      // a few spurious counts per lane; min-over-4-lanes is exact here
      assert(est <= truth(k) + 50, s"CMS est for $k implausibly high: $est")
    }
  }
}
