package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column

/** Dedicated specs for the round-13 fused expressions — each is
  * raced bit-for-bit against the composed Spark formulation it
  * replaced, on adversarial inputs the corpus never produces
  * (duplicates, shared nulls, short arrays, empty arrays), so the
  * "bit-identical by construction" claims are pinned, not asserted.
  */
class FusedExprSpec extends SparkSpec {

  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types._

  private def jac(a: Column, b: Column): Column =
    call_function("graft_jaccard", a, b)

  test("graft_jaccard equals size(intersect)/size(union) on adversarial arrays") {
    val rows = Seq[(Seq[String], Seq[String])](
      (Seq("a", "b", "c"), Seq("b", "c", "d")),
      (Seq("a", "a", "b"), Seq("a", "b", "b")),          // duplicates
      (Seq("a"), Seq("z")),                              // disjoint
      (Seq("x", "y"), Seq("x", "y")),                    // equal
      (Seq(), Seq("a")),                                 // one empty
      (Seq("πφ", "東京"), Seq("東京", "a")),              // non-ascii
      (Seq("a", null), Seq(null, "b")),                  // shared null
      (Seq(null, null), Seq(null)),                      // null-only
      (Seq(), Seq()))                                    // union empty -> NULL
    val schema = StructType(Seq(
      StructField("a", ArrayType(StringType, containsNull = true)),
      StructField("b", ArrayType(StringType, containsNull = true))))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row(r._1, r._2)): _*), schema)
    val raced = df.select(
      jac(col("a"), col("b")).as("fused"),
      (size(array_intersect(col("a"), col("b"))).cast("double") /
        size(array_union(col("a"), col("b")))).as("composed"))
      .collect()
    raced.foreach { r =>
      val f = if (r.isNullAt(0)) null else java.lang.Double.valueOf(r.getDouble(0))
      val c = if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1))
      assert(f == c, s"fused=$f composed=$c")
    }
    // NULL input propagates
    val n = df.select(jac(lit(null).cast("array<string>"), col("b")))
      .collect()
    assert(n.forall(_.isNullAt(0)))
  }

  test("graft_pq_subdots element j equals dot(slice_j(a), slice_j(b)), clamps included") {
    val rnd = new scala.util.Random(7)
    def vec(n: Int): Seq[Float] = Seq.fill(n)(rnd.nextFloat() * 2 - 1)
    // full-length, short (slice clamp), very short (empty tail slices)
    val rows = Seq(
      (vec(64), vec(64)), (vec(64), vec(40)), (vec(7), vec(64)),
      (vec(3), vec(3)), (vec(0), vec(64)))
    val schema = StructType(Seq(
      StructField("a", ArrayType(FloatType, containsNull = false)),
      StructField("b", ArrayType(FloatType, containsNull = false))))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row(r._1, r._2)): _*), schema)
    val m = 4; val subLen = 16
    def sub(c: Column, j: Int): Column = slice(c, j * subLen + 1, subLen)
    val cols = (0 until m).flatMap { j =>
      Seq(
        element_at(call_function("graft_pq_subdots", col("a"), col("b"),
          lit(m), lit(subLen)), j + 1).as(s"f$j"),
        call_function("graft_dot", sub(col("a"), j), sub(col("b"), j))
          .as(s"c$j"))
    }
    df.select(cols: _*).collect().foreach { r =>
      (0 until m).foreach { j =>
        val f = r.getDouble(2 * j)
        val c = r.getDouble(2 * j + 1)
        assert(java.lang.Double.doubleToLongBits(f) ==
          java.lang.Double.doubleToLongBits(c),
          s"subspace $j: fused=$f composed=$c")
      }
    }
  }

  test("graft_shingles equals array_distinct(transform(sequence, concat_ws(slice))); graft_rolling_hashes equals transform(rollingHash)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val toks = docs.select(col("doc_id"),
      call_function("graft_tokens", col("text")).as("toks"))
    val n = 3
    def composedShingles(t: Column): Column =
      when(size(t) >= n,
        array_distinct(transform(
          sequence(lit(1), size(t) - (n - 1)),
          i => concat_ws(" ", slice(t, i, lit(n))))))
        .otherwise(array().cast("array<string>"))
    val raced = toks.select(
      graft.functions.TextFunctions.shingles(col("toks"), n).as("fused"),
      composedShingles(col("toks")).as("composed"))
    // ORDER matters (first-occurrence dedup contract), so compare the
    // arrays themselves, not set membership
    assert(raced.where(not(col("fused") === col("composed"))).isEmpty)
    assert(raced.where(size(col("fused")) > 0).count() > 0)
    // short/empty token arrays take the empty-array branch
    import spark.implicits._
    val shorts = Seq(Seq("a", "b"), Seq("x"), Seq[String]())
      .toDF("toks")
      .select(graft.functions.TextFunctions.shingles(col("toks"), n).as("s"))
      .collect()
    assert(shorts.forall(_.getSeq[String](0).isEmpty))
    val hashes = toks
      .withColumn("sh", graft.functions.TextFunctions.shingles(col("toks"), n))
      .select(
        call_function("graft_rolling_hashes", col("sh")).as("fused"),
        transform(col("sh"),
          s => graft.functions.TextFunctions.rollingHash(s)).as("composed"))
    assert(hashes.where(not(col("fused") === col("composed"))).isEmpty)
  }

  test("graft_pairs equals the nested-transform fan-out, order included") {
    import spark.implicits._
    // strings (brand/basket grain): duplicates, singletons, empties
    val sdf = Seq(
      Seq("a", "b", "c", "d"), Seq("a", "a", "b"), Seq("x", "y"),
      Seq("only"), Seq[String]()).toDF("ids")
    def composed(c: Column): Column =
      when(size(c) >= 2, flatten(transform(
        sequence(lit(1), size(c) - 1),
        i => transform(sequence(i + 1, size(c)),
          j => struct(element_at(c, i).as("a"), element_at(c, j).as("b"))))))
        .otherwise(array().cast("array<struct<a:string,b:string>>"))
    val raced = sdf.select(
      call_function("graft_pairs", col("ids")).as("fused"),
      composed(col("ids")).as("composed"))
    // ORDER matters (flatten order is the contract), so compare arrays
    assert(raced.where(not(col("fused") === col("composed"))).isEmpty)
    assert(raced.where(size(col("fused")) > 0).count() > 0)
    // longs (graph/bucket grain), including the C(n,2) count
    val ldf = Seq(Seq(5L, 9L, 2L, 9L), Seq(1L, 2L)).toDF("ids")
    val lp = ldf.select(call_function("graft_pairs", col("ids")).as("p"))
      .collect()
    assert(lp(0).getSeq[Row](0).size == 6 && lp(1).getSeq[Row](0).size == 1)
    assert(lp(0).getSeq[Row](0).head == Row(5L, 9L))
    // struct elements (the (part, cnt) carrier): fields pass through
    val stdf = Seq((Seq((10L, 3L), (20L, 4L)))).toDF("ids")
    val sp = stdf.select(explode(call_function("graft_pairs", col("ids")))
      .as("p"))
      .select(col("p.a._1"), col("p.b._2")).collect()
    assert(sp.head == Row(10L, 4L))
    // NULL array propagates
    assert(sdf.select(call_function("graft_pairs",
      lit(null).cast("array<string>"))).collect().forall(_.isNullAt(0)))
  }

  test("graft_hamming_pairs equals the filtered nested-transform chain") {
    import spark.implicits._
    val rows = Seq(
      Seq((1L, 0L), (2L, 1L), (3L, 7L), (4L, 0L)),   // mixed distances
      Seq((9L, 255L), (10L, 0L)),                    // all filtered out
      Seq((5L, 42L)), Seq[(Long, Long)]())           // singleton, empty
    val df = rows.toDF("raw")
      .select(transform(col("raw"),
        x => struct(x.getField("_1").as("doc_id"),
          x.getField("_2").as("simhash"))).as("ids"))
    val maxHamming = 3
    val raced = df.select(
      call_function("graft_hamming_pairs", col("ids"), lit(maxHamming))
        .as("fused"),
      // size guard as in production (simhashPairs filters buckets of
      // size > 1 before the fan-out): sequence(1, 0) steps DOWNWARD,
      // so the unguarded composed form emits junk on short arrays
      expr(
        s"""CASE WHEN size(ids) >= 2 THEN
           flatten(transform(sequence(1, size(ids) - 1),
           i -> filter(transform(sequence(i + 1, size(ids)),
             j -> struct(ids[i-1].doc_id AS d1, ids[j-1].doc_id AS d2,
               cast(bit_count(ids[i-1].simhash ^ ids[j-1].simhash) AS int)
                 AS hamming)),
             x -> x.hamming <= $maxHamming)))
           ELSE array() END""").as("composed"))
    assert(raced.where(not(col("fused") === col("composed"))).isEmpty)
    assert(raced.where(size(col("fused")) > 0).count() > 0)
  }

  test("graft_pairs refuses a fan-out past Int.MaxValue instead of corrupting") {
    // 65537 elements → 2 147 516 416 pairs, just past Int.MaxValue:
    // the round-13 Int arithmetic overflowed to a negative array size
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val big = new GenericArrayData(
      Array.tabulate(65537)(i => i.toLong.asInstanceOf[Any]))
    val e = intercept[IllegalArgumentException] {
      graft.functions.Pairs.compute(big, LongType)
    }
    assert(e.getMessage.contains("Int.MaxValue"))
    // one below the cliff still sizes correctly (no allocation blowup
    // concern: n=3 sanity value)
    val small = new GenericArrayData(Array[Any](1L, 2L, 3L))
    assert(graft.functions.Pairs.compute(small, LongType).numElements() == 3)
  }

  test("graft_hamming_pairs refuses more than Int.MaxValue survivors instead of a negative array") {
    // 65537 equal sketches all survive at distance 0: 2 147 516 416
    // pairs, one past Int.MaxValue — an Int count wraps negative
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val same = new GenericArrayData(Array.tabulate[Any](65537)(i =>
      InternalRow(i.toLong, 0L)))
    val e = intercept[IllegalArgumentException] {
      graft.functions.HammingPairs.compute(same, 0)
    }
    assert(e.getMessage.contains("graft_hamming_pairs") &&
      e.getMessage.contains("Int.MaxValue"), e.getMessage)
  }

  test("int-literal builder args accept bigint literals and foldables") {
    import spark.implicits._
    val df = Seq(Seq((1L, 0L), (2L, 3L))).toDF("ids")
      .select(col("ids").cast("array<struct<d1:bigint,s:bigint>>").as("ids"))
    df.createOrReplaceTempView("hp_in")
    // 3L arrives as a LongType literal; 1 + 2 is a foldable expression
    val viaLong = spark.sql(
      "SELECT graft_hamming_pairs(ids, 3L) AS p FROM hp_in").collect()
    val viaFold = spark.sql(
      "SELECT graft_hamming_pairs(ids, 1 + 2) AS p FROM hp_in").collect()
    val viaInt = spark.sql(
      "SELECT graft_hamming_pairs(ids, 3) AS p FROM hp_in").collect()
    assert(viaLong.toSeq == viaInt.toSeq && viaFold.toSeq == viaInt.toSeq)
    val bad = intercept[Exception] {
      spark.sql("SELECT graft_hamming_pairs(ids, ids) FROM hp_in").collect()
    }
    assert(bad.getMessage.contains("integral literal"))
  }

  test("graft_srp_sigs equals the per-plane dot-sign concat_ws chain") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val nPlanes = 48; val bands = 4; val rows = nPlanes / bands
    val p = graft.operators.VectorSearch.srpPlanes(nPlanes, 64)
    def planeLit(i: Int): Column = array(p(i).toIndexedSeq.map(lit(_)): _*)
    val composed = emb.select(
      Seq(col("vec_id")) ++ (0 until nPlanes).map(i =>
        (call_function("graft_dot", col("embedding"), planeLit(i)) >= 0)
          .cast("int").as(s"b$i")): _*)
      .select(col("vec_id") +: (0 until bands).map(b =>
        concat_ws(",", (b * rows until (b + 1) * rows).map(i =>
          col(s"b$i").cast("string")): _*).as(s"s$b")): _*)
    val fused = emb.select(
      col("vec_id") +: (0 until bands).map(b =>
        element_at(call_function("graft_srp_sigs", col("embedding"),
          lit(nPlanes), lit(rows), lit(64)), b + 1).as(s"s$b")): _*)
    assert(composed.exceptAll(fused).isEmpty &&
      fused.exceptAll(composed).isEmpty)
    // prefix stability: plane i identical whatever the total
    assert(graft.operators.VectorSearch.srpPlanes(16, 64).map(_.toSeq) ==
      graft.operators.VectorSearch.srpPlanes(64, 64).take(16).map(_.toSeq))
  }

  // ---- plan-time-table kernels: raced against the broadcast fan-out
  // forms they replaced, on inputs the corpus never produces (ties,
  // unsorted table ids, NaN). Spark orders NaN above every number, so
  // a NaN cosine wins the argmax and a NaN distance loses the argmin.

  private val floats = ArrayType(FloatType, containsNull = false)

  private def frame(idCol: String, vecCol: String,
                    rows: Seq[(Long, Seq[Float])]): org.apache.spark.sql.DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (i, v) => Row(i, v) }: _*),
      StructType(Seq(StructField(idCol, LongType, nullable = false),
        StructField(vecCol, floats, nullable = false))))

  /** vec_id (first column) -> the remaining bigint columns. */
  private def byVecId(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
    df.collect().map(r => r.getLong(0) ->
      (1 until r.length).map(r.getLong)).toMap

  /** vec_id -> cell from graft_cell_argmax, the graft_topk(ccos, id, 1)
    * heap over the cross join, and the ORDER BY ccos DESC, id window;
    * asserts all three agree and returns the answer. */
  private def raceCellArgmax(vecs: Seq[(Long, Seq[Float])],
                             cents: Seq[(Long, Seq[Float])]): Map[Long, Long] = {
    import org.apache.spark.sql.GraftExpressionBridge
    import org.apache.spark.sql.expressions.Window
    import graft.operators.VectorSearch.{cosine, norm}
    val e = frame("vec_id", "embedding", vecs)
      .withColumn("nrm", norm(col("embedding")))
    val c = frame("centroid_id", "ce", cents).withColumn("cn", norm(col("ce")))
    val cRows = c.collect()
    val native = e.select(col("vec_id"),
      GraftExpressionBridge.column(graft.functions.CellArgmax(
        GraftExpressionBridge.expression(col("embedding")),
        GraftExpressionBridge.expression(col("nrm")),
        cRows.map(_.getLong(0)), cRows.map(_.getSeq[Float](1).toArray),
        cRows.map(_.getDouble(2)))))
    val fan = e.crossJoin(broadcast(c)).select(col("vec_id"),
      col("centroid_id"),
      cosine(col("embedding"), col("ce"), col("nrm"), col("cn")).as("ccos"))
    val heap = fan.groupBy(col("vec_id"))
      .agg(expr("graft_topk(ccos, centroid_id, 1)")(0)("id"))
    val window = fan
      .withColumn("rk", row_number().over(Window.partitionBy(col("vec_id"))
        .orderBy(desc("ccos"), asc("centroid_id"))))
      .where(col("rk") === 1).select(col("vec_id"), col("centroid_id"))
    val want = byVecId(window)
    assert(byVecId(native) == want, "graft_cell_argmax vs window")
    assert(byVecId(heap) == want, "graft_topk vs window")
    want.map { case (v, cs) => v -> cs.head }
  }

  /** vec_id -> m codes from graft_pq_codes and from the cross join's
    * min_by(centroid_id, struct(d_j, centroid_id)); asserts they agree
    * and returns the answer. */
  private def racePqCodes(vecs: Seq[(Long, Seq[Float])],
                          cb: Seq[(Long, Seq[Float])],
                          m: Int, subLen: Int): Map[Long, Seq[Long]] = {
    import org.apache.spark.sql.GraftExpressionBridge
    def sub(a: Column, b: Column): Column =
      call_function("graft_pq_subdots", a, b, lit(m), lit(subLen))
    val e = frame("vec_id", "embedding", vecs)
    val c = frame("centroid_id", "ce", cb)
    val cRows = c.collect()
    val codes = GraftExpressionBridge.column(graft.functions.PqCodebookCodes(
      GraftExpressionBridge.expression(col("embedding")),
      cRows.map(_.getLong(0)), cRows.map(_.getSeq[Float](1).toArray),
      m, subLen))
    val native = e.select(col("vec_id") +:
      (0 until m).map(j => element_at(codes, j + 1)): _*)
    val d = e.withColumn("eself", sub(col("embedding"), col("embedding")))
      .crossJoin(broadcast(c.withColumn("cself", sub(col("ce"), col("ce")))))
      .withColumn("xd", sub(col("embedding"), col("ce")))
      .select(col("vec_id") +: col("centroid_id") +: (0 until m).map(j =>
        (element_at(col("eself"), j + 1) + element_at(col("cself"), j + 1) -
          lit(2.0) * element_at(col("xd"), j + 1)).as(s"d$j")): _*)
    val composed = d.groupBy(col("vec_id")).agg(
      min_by(col("centroid_id"), struct(col("d0"), col("centroid_id"))),
      (1 until m).map(j =>
        min_by(col("centroid_id"), struct(col(s"d$j"), col("centroid_id")))): _*)
    val want = byVecId(composed)
    assert(byVecId(native) == want, "graft_pq_codes vs min_by")
    want
  }

  private def randomVecs(seed: Int, ids: Seq[Long], dim: Int): Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(seed)
    ids.map(i => i -> Seq.fill(dim)(rnd.nextFloat() * 2 - 1))
  }

  test("graft_cell_argmax equals the graft_topk and window argmax on finite inputs") {
    val vecs = randomVecs(11, 0L until 40L, 16)
    // unsorted ids, and centroid 2 duplicates centroid 6: exact ties
    // must go to the lower id whatever the table order
    val cents0 = randomVecs(12, Seq(5L, 1L, 6L, 0L, 3L), 16)
    val cents = cents0 :+ (2L -> cents0(2)._2)
    val got = raceCellArgmax(vecs, cents)
    assert(got.size == vecs.size && !got.values.exists(_ == 6L))
  }

  test("graft_cell_argmax ranks a NaN cosine first, in the first or a later centroid") {
    val vecs = randomVecs(21, 0L until 10L, 8)
    val nan = Seq.fill(8)(Float.NaN)
    val finite = randomVecs(22, Seq(4L, 0L), 8)
    // NaN in the first and second table entries: a NaN-NaN tie goes to
    // the lower id (2), not to the first one scanned (7)
    assert(raceCellArgmax(vecs, (7L -> nan) +: (2L -> nan) +: finite)
      .values.toSet == Set(2L))
    // NaN in a later entry still beats every finite cosine
    assert(raceCellArgmax(vecs, finite :+ (9L -> nan)).values.toSet == Set(9L))
  }

  test("graft_pq_codes equals the min_by argmin on finite inputs") {
    val m = 4; val subLen = 4
    val vecs = randomVecs(31, 0L until 40L, 16) ++
      randomVecs(32, Seq(40L, 41L), 9)  // short vectors: slice clamps
    // unsorted ids, and entry 1 duplicates entry 8: exact ties
    val cb0 = randomVecs(33, Seq(8L, 3L, 5L, 0L), 16)
    val got = racePqCodes(vecs, cb0 :+ (1L -> cb0.head._2), m, subLen)
    assert(got.size == vecs.size && !got.values.exists(_.contains(8L)))
  }

  test("graft_pq_codes ranks a NaN distance last, in the first or a later entry") {
    val m = 2; val subLen = 4
    val vecs = randomVecs(41, 0L until 10L, 8)
    val nanSub0 = Seq.fill(4)(Float.NaN) ++ Seq.fill(4)(0.5f)
    val finite = randomVecs(42, Seq(6L, 1L), 8)
    // NaN in subspace 0 of the first entry: never the code there
    val first = racePqCodes(vecs, (3L -> nanSub0) +: finite, m, subLen)
    assert(!first.values.exists(_.head == 3L))
    // NaN in a later entry, plus a vector whose subspace 1 is NaN:
    // every entry ties at NaN there, and the tie goes to the lower id
    val nanVec = 99L -> (Seq.fill(4)(0.25f) ++ Seq.fill(4)(Float.NaN))
    val later = racePqCodes(vecs :+ nanVec, finite :+ (3L -> nanSub0), m, subLen)
    assert(!later.values.exists(_.head == 3L))
    assert(later(99L)(1) == 1L)
  }
}
