package graft

/** Native-function surface: every function must be available from
  * session construction via the `spark.sql.extensions` installer (the
  * engine's only install path) and agree between SQL and Column use.
  */
class FunctionsSpec extends SparkSpec {

  test("vec_dot is installed by GraftExtensions at session build time") {
    // TestSession is built by core.Session.builder, which sets
    // spark.sql.extensions — pure SQL resolves every engine function
    // with nothing else installing them.
    assert(spark.conf.get("spark.sql.extensions")
      == "graft.functions.GraftExtensions")
    val r = spark.sql(
      "SELECT vec_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d")
      .head.getDouble(0)
    assert(r == 32.0)
    val names = graft.functions.GraftExtensions.functions.map(_._1.funcName)
    assert(names.size == names.distinct.size)
    names.foreach(n => assert(spark.catalog.functionExists(n), n))
    // the as-of strategy and the range-bin rule come from the
    // extensions alone: running both query shapes adds nothing to the
    // session's programmatic strategy and optimizer lists
    Seq("q42_asof_native", "q43_range_join_binned").foreach(q =>
      assert(SparkEntry.queries(q)(spark, sfDir).count() > 0, q))
    assert(spark.experimental.extraStrategies.isEmpty)
    assert(spark.experimental.extraOptimizations.isEmpty)
  }

  test("md5_60 equals the conv(substring(md5)) form it replaces") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val texts = Seq("", "a", "hello world", "ünïcödé ✓", "\t\n spaces ",
      "0123456789" * 20).toDF("s")
    val rows = texts.select(
      graft.llm.TextAnalysis.hash60(col("s")).as("fast"),
      conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("ref"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
    rows.foreach(r => assert(r.getLong(0) >= 0L))
  }

  test("word_ngrams equals the HOF zip-slices form it replaces") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // all >= 3 tokens: the HOF reference form errors on shorter input
    // (callers guard with when(size >= n) — so does production code)
    val texts = Seq("a b c d e", "x y z", "one one one one",
      "a  b   c d").toDF("text")
    val t = split(trim(col("text")), "\\s+")
    val n = size(t)
    val zipped = arrays_zip(
      slice(t, lit(1), n - 2), slice(t, lit(2), n - 2), slice(t, lit(3), n - 2))
    val rows = texts.select(
      graft.functions.TextFunctions.wordNgrams(t, 3).as("fast"),
      array_distinct(transform(zipped, z =>
        concat_ws(" ", z.getField("0"), z.getField("1"), z.getField("2"))))
        .as("ref")).collect()
    rows.foreach(r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), r.toString))
    // short input (m < n) yields an empty gram array, no error
    val short = Seq("hello").toDF("text").select(
      graft.functions.TextFunctions.wordNgrams(
        split(trim(col("text")), "\\s+"), 3)).head.getSeq[String](0)
    assert(short.isEmpty)
  }

  test("word_ngrams rejects bad arguments with proper analysis errors") {
    import org.apache.spark.sql.AnalysisException
    import spark.implicits._
    val df = Seq(Seq("a", "b", "c")).toDF("arr")
    df.createOrReplaceTempView("wn_args")
    def err(sql: String): AnalysisException =
      intercept[AnalysisException](spark.sql(sql).collect())
    // wrong arity
    assert(err("SELECT word_ngrams(arr) FROM wn_args")
      .getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION")
    // non-foldable n
    assert(err("SELECT word_ngrams(arr, size(arr)) FROM wn_args")
      .getCondition == "NON_FOLDABLE_ARGUMENT")
    // NULL literal n
    assert(err("SELECT word_ngrams(arr, CAST(NULL AS INT)) FROM wn_args")
      .getCondition == "INVALID_PARAMETER_VALUE.NULL")
    // non-positive n
    assert(err("SELECT word_ngrams(arr, 0) FROM wn_args")
      .getCondition == "INVALID_PARAMETER_VALUE.INTEGER")
    assert(err("SELECT word_ngrams(arr, -2) FROM wn_args")
      .getCondition == "INVALID_PARAMETER_VALUE.INTEGER")
    // LONG literal outside INT range must NOT silently truncate
    assert(err("SELECT word_ngrams(arr, 4294967299) FROM wn_args")
      .getCondition == "INVALID_PARAMETER_VALUE.INTEGER")
    // non-integral literal types
    assert(err("SELECT word_ngrams(arr, 'three') FROM wn_args")
      .getCondition == "INVALID_PARAMETER_VALUE.INTEGER")
    assert(err("SELECT word_ngrams(arr, 2.5) FROM wn_args")
      .getCondition == "INVALID_PARAMETER_VALUE.INTEGER")
    // in-range LONG literal still works
    assert(spark.sql("SELECT word_ngrams(arr, 2L) FROM wn_args")
      .head.getSeq[String](0) == Seq("a b", "b c"))
  }

  test("vec_dot Column API agrees with SQL and handles length mismatch") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0), Seq(3.0, 4.0, 99.0))).toDF("a", "b")
    // min-length semantics: the trailing unmatched element contributes 0
    val viaCol = df.select(
      graft.functions.VectorFunctions.vecDot(col("a"), col("b"))).head.getDouble(0)
    assert(viaCol == 11.0)
  }

  test("char_ngrams equals the sequence+substring SQL-lambda form it replaces") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // multi-byte text included: the kernel must gram by CHAR, not byte
    val texts = Seq("hello", "ab", "aaaa", "héllo wörld", "中文字符串", "xy")
      .toDF("txt")
    val rows = texts.select(
      graft.functions.TextFunctions.charNgrams(col("txt"), 2).as("fast"),
      expr("array_distinct(transform(sequence(1, char_length(txt) - 1)," +
        " i -> substring(txt, i, 2)))").as("ref"))
      .collect()
    rows.foreach(r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), r.toString))
    // sub-n text: empty grams (matches DuckDB generate_series(1, 0))
    assert(Seq("x").toDF("txt")
      .select(graft.functions.TextFunctions.charNgrams(col("txt"), 2))
      .head.getSeq[String](0).isEmpty)
    // SQL path + the shared n validation
    assert(spark.sql("SELECT char_ngrams('abc', 2) AS g")
      .head.getSeq[String](0) == Seq("ab", "bc"))
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT char_ngrams('abc', 0)"))
    assert(e.getCondition == "INVALID_PARAMETER_VALUE.INTEGER")
  }

  test("vec_div and vec_quant_int8 equal the transform-lambda forms they replace") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // negative halves are where a naive math.round would diverge from
    // Spark's HALF_UP round: round(-2.5) must be -3, not -2
    val vecs = Seq(
      (Seq(0.5, -0.5, 2.5, -2.5, 0.0, 1.2499999999999998, -126.9, 127.0), 1.0),
      (Seq(0.013, -0.77, 0.501, -0.4999999999999999), 93.7),
      (Seq.empty[Double], 3.0))
      .toDF("v", "s")
    val rows = vecs.select(
      graft.functions.VectorFunctions.vecQuantInt8(col("v"), col("s")).as("qf"),
      transform(col("v"), x => round(x * col("s")).cast("int")).as("qr"),
      graft.functions.VectorFunctions.vecDiv(col("v"), col("s")).as("df"),
      transform(col("v"), x => x / col("s")).as("dr"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Int](0) == r.getSeq[Int](1), r.toString)
      assert(r.getSeq[Double](2) == r.getSeq[Double](3), r.toString)
    }
    // SQL path via GraftExtensions
    assert(spark.sql("SELECT vec_quant_int8(array(-2.5D, 2.5D), 1.0D) AS q")
      .head.getSeq[Int](0) == Seq(-3, 3))
    // pathological boundary: nextDown(0.5) — a naive floor(v + 0.5)
    // rounds UP here because the addition itself rounds to exactly 1.0,
    // while BigDecimal HALF_UP (Spark round) and DuckDB yield 0
    val nd = Math.nextDown(0.5)
    assert(spark.sql(s"SELECT vec_quant_int8(array(${nd}D, ${-nd}D), 1.0D) AS q")
      .head.getSeq[Int](0) == Seq(0, 0))
  }

  test("vec_div / vec_quant_int8 propagate null elements like the lambdas") {
    // registered session-wide: arbitrary SQL can feed nullable-element
    // arrays even though the embedding pipelines never do
    val r = spark.sql(
      """SELECT vec_div(array(2.0D, NULL, 8.0D), 2.0D) AS d,
        |       vec_quant_int8(array(2.5D, NULL), 1.0D) AS q,
        |       transform(array(2.0D, NULL, 8.0D), x -> x / 2.0D) AS dl""".stripMargin)
      .head
    assert(r.getSeq[Any](0) == Seq(1.0, null, 4.0))
    assert(r.getSeq[Any](1) == Seq(3, null))
    assert(r.getSeq[Any](0) == r.getSeq[Any](2)) // lambda parity
  }

  test("pq_adc sums table lookups; malformed inputs yield null, not wrong sums") {
    import spark.implicits._
    // m=2, k=3: dt = [10,20,30 | 40,50,60]; codes (1,2) -> 20 + 60
    val ok = spark.sql(
      """SELECT pq_adc(array(1, 2),
        |  array(10d, 20d, 30d, 40d, 50d, 60d)) AS s""".stripMargin).head
    assert(ok.getDouble(0) == 80.0)
    // |dt| not divisible by |codes| -> null
    val bad1 = spark.sql(
      "SELECT pq_adc(array(0, 1), array(1d, 2d, 3d)) AS s").head
    assert(bad1.isNullAt(0))
    // out-of-range code -> null
    val bad2 = spark.sql(
      "SELECT pq_adc(array(3), array(1d, 2d, 3d)) AS s").head
    assert(bad2.isNullAt(0))
    // null input array -> null (nullSafeEval path)
    val bad3 = Seq((1, null.asInstanceOf[Seq[Int]]))
      .toDF("i", "c")
      .select(graft.functions.VectorFunctions.pqAdc(
        org.apache.spark.sql.functions.col("c"),
        org.apache.spark.sql.functions.expr("array(1d, 2d)")))
      .head
    assert(bad3.isNullAt(0))
  }

  test("pq_encode picks the min-L2 centroid per subspace, ties to the " +
      "smallest code; malformed geometry yields null") {
    import spark.implicits._
    // m=2 subspaces of 2 dims, k=2 centroids each, flat layout
    // (sub·k + code)·dsub + i:
    //   sub0: c0=(1,0)  c1=(0,1)   sub1: c0=(2,2)  c1=(1,1)
    // v=(1,0 | 1,1): sub0 → c0 (exact hit); sub1: c0 score
    // 4−½·8 = 0, c1 score 2−½·2 = 1 → c1
    val books = "array(1d,0d, 0d,1d, 2d,2d, 1d,1d)"
    val r = spark.sql(
      s"SELECT pq_encode(array(1d, 0d, 1d, 1d), $books, 2) AS c").head
    assert(r.getSeq[Int](0) == Seq(0, 1))
    // tie: v=(0,0 | 0,0) scores −½‖c‖² — sub0 ties at c0=(1,0) vs a
    // duplicated norm? use distinct norms then exact tie via equal
    // centroids: both centroids identical → tie → smallest code
    val tie = spark.sql(
      "SELECT pq_encode(array(5d, 5d), array(1d, 1d, 1d, 1d), 1) AS c").head
    assert(tie.getSeq[Int](0) == Seq(0), "tie must go to the smallest code")
    // oracle-parity on real data: kernel codes == the join+argmax form
    val unit = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .selectExpr("vec_id", "cast(embedding as array<double>) v")
      .selectExpr("vec_id",
        "transform(v, x -> x / sqrt(aggregate(zip_with(v, v, (a, b) -> a*b), 0d, (s, x) -> s + x))) uv")
    val ids = graft.llm.Similarity.PqSampleIds
    val m = graft.llm.Similarity.PqM
    val k = graft.llm.Similarity.PqK
    val dsub = graft.llm.Similarity.Dims / m
    val samples = unit.filter($"vec_id".isin(ids: _*)).collect()
      .map(row => row.getLong(0) -> row.getSeq[Double](1).toArray).toMap
    val flat = new Array[Double](m * k * dsub)
    for { sub <- 0 until m; code <- 0 until k; j <- 0 until dsub }
      flat((sub * k + code) * dsub + j) = samples(ids(code))(sub * dsub + j)
    val got = unit.limit(50).select($"vec_id",
        graft.functions.VectorFunctions.pqEncode($"uv", flat, m).as("c"))
      .collect().map(row => row.getLong(0) -> row.getSeq[Int](1)).toMap
    got.foreach { case (id, codes) =>
      val u = unit.filter($"vec_id" === id).head.getSeq[Double](1).toArray
      val want = (0 until m).map { sub =>
        (0 until k).map { code =>
          val off = (sub * k + code) * dsub
          var s = 0.0; var cc = 0.0
          (0 until dsub).foreach { j =>
            s += u(sub * dsub + j) * flat(off + j)
            cc += flat(off + j) * flat(off + j)
          }
          (s - cc / 2, code)
        }.sortBy { case (d, c) => (-d, c) }.head._2
      }
      assert(codes == want, s"kernel codes diverge for vec $id")
    }
    // |v| not divisible by m -> null; |books| not multiple of |v| -> null
    assert(spark.sql(
      "SELECT pq_encode(array(1d, 2d, 3d), array(1d, 2d, 3d), 2) AS c")
      .head.isNullAt(0))
    assert(spark.sql(
      "SELECT pq_encode(array(1d, 2d), array(1d, 2d, 3d), 1) AS c")
      .head.isNullAt(0))
  }

  test("simhash64 equals the unfused CASE-WHEN-dot form it replaces") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 3 planes over 2 dims, row-major: the reference is the unfused
    // sum of CASE WHEN dot >= 0 THEN 2^b the oracle SQL spells out
    val planes = Array(1.0, 0.0, 0.0, -1.0, 1.0, 1.0)
    def refSig(v: Seq[Double]): Long =
      (0 until 3).map { b =>
        val d = v(0) * planes(b * 2) + v(1) * planes(b * 2 + 1)
        if (d >= 0) 1L << b else 0L
      }.sum
    val vecs = Seq(Seq(1.0, 2.0), Seq(-3.0, 0.5), Seq(0.0, 0.0),
      Seq(-1.0, -1.0))
    val rows = vecs.toDF("v")
      .select(graft.functions.VectorFunctions
        .simHash64(col("v"), planes).as("sig"))
      .collect().map(_.getLong(0))
    assert(rows.toSeq == vecs.map(refSig), rows.mkString(","))
    // 64 planes set bit 63 (the Long.MinValue weight) without overflow
    val p64 = Array.fill(64 * 2)(1.0)
    val full = Seq(Seq(1.0, 1.0)).toDF("v")
      .select(graft.functions.VectorFunctions.simHash64(col("v"), p64))
      .head.getLong(0)
    assert(full == -1L) // all 64 bits set
    // malformed plane length (not a multiple of |v|) -> null
    val bad = Seq(Seq(1.0, 2.0)).toDF("v")
      .select(graft.functions.VectorFunctions
        .simHash64(col("v"), Array(1.0, 2.0, 3.0)))
      .head
    assert(bad.isNullAt(0))
    // null element -> null (vec_dot parity); null vector -> null
    val nel = spark.sql(
      "SELECT simhash64(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 1.0D)) AS s")
      .head
    assert(nel.isNullAt(0))
    val nv = Seq((1, null.asInstanceOf[Seq[Double]])).toDF("i", "v")
      .select(graft.functions.VectorFunctions
        .simHash64(col("v"), Array(1.0))).head
    assert(nv.isNullAt(0))
  }

  test("count_in_set equals the filter+array_contains HOF form it replaces") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sw = Seq("the", "a", "of")
    val swArr = array(sw.map(lit): _*)
    val rows = Seq(
      Seq("the", "cat", "the", "a"), // multiplicity: 'the' counts twice
      Seq("dog", "fish"),
      Seq.empty[String],
      Seq("of", "of", "of"))
      .toDF("t")
      .select(
        graft.functions.SetFunctions.countInSet(col("t"), sw).as("fast"),
        size(filter(col("t"), x => array_contains(swArr, x))).as("ref"))
      .collect()
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1), r.toString))
    assert(rows.map(_.getInt(0)).toSeq == Seq(3, 0, 0, 3))
    // null array -> null result (both forms)
    val nr = Seq((1, null.asInstanceOf[Seq[String]])).toDF("i", "t")
      .select(graft.functions.SetFunctions.countInSet(col("t"), sw)).head
    assert(nr.isNullAt(0))
    // SQL path via GraftExtensions; non-foldable set is an analysis error
    assert(spark.sql("SELECT count_in_set(array('x', 'y', 'x'), array('x')) AS c")
      .head.getInt(0) == 2)
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT count_in_set(t, t) FROM VALUES (array('x')) AS v(t)")
        .collect())
    assert(e.getCondition == "NON_FOLDABLE_ARGUMENT")
  }

  test("eval_once is used only at its two reviewed call sites") {
    // EvalOnce hides non-determinism from the optimizer, which is safe
    // only for a deterministic wrapped expression (its scaladoc). Every
    // use outside the defining file is listed here after that review.
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val uses = java.nio.file.Files.walk(root).iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "BarrierFunctions.scala")
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("evalOnce(") || line.contains("eval_once(") =>
            s"${root.relativize(p)}:${i + 1}"
        }
      }
    assert(uses.toSet == Set("graft/llm/Curation.scala:90", "graft/llm/Curation.scala:605"),
      uses)
  }
}
