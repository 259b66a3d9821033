package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.ops.TextOps

/** The native expressions must agree exactly with the equivalent built-in
  * higher-order-function formulations (the arithmetic the DuckDB oracles
  * mirror). */
class ExpressionsSpec extends SparkSuite {
  import spark.implicits._

  private lazy val docs = Seq(
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy cat",
    "one two", // fewer tokens than n=3 → empty shingles
    "Paella, déjà-vu & 東京 2024!", // non-ascii + punctuation
    "a a a a a" // repeated token → distinct shingle collapse
  ).toDF("text")

  test("WordShingles equals the transform/slice/concat_ws formulation") {
    val toks = TextOps.tokens(col("text"))
    val hof = when(size(toks) < 3, array().cast("array<string>"))
      .otherwise(array_distinct(
        transform(sequence(lit(1), size(toks) - 2),
          i => concat_ws(" ", slice(toks, i, lit(3))))))
    val rows = docs.select(
      GraftFunctions.wordShingles(toks, 3).as("native"), hof.as("hof"))
      .as[(Seq[String], Seq[String])].collect()
    rows.foreach { case (n, h) => assert(n === h) }
  }

  test("LowerTokens equals filter(split(lower)) — ascii fast path and unicode fallback") {
    val cases = Seq(
      "the Quick BROWN fox", "  leading and trailing  ", "", "''",
      "don't stop, WON'T stop!", "a1b2 C3d4", "----", "a",
      "tabs\tand\nnewlines", "123 456", "UPPER lower MiXeD",
      // unicode: the fallback must match the built-ins exactly, including
      // lowercasings that CREATE ascii letters (İ -> i + combining dot,
      // K (Kelvin) -> k) and multi-byte chars acting as delimiters
      "İstanbul", "KELVIN K sign", "déjà vu", "東京 2024 olympics",
      "Paella, déjà-vu & 東京!", "ß sharp s", "café's menu",
      "aİb", "xKy", "emoji 🚀 rocket", "ııı dotless",
      (0 until 300).map(i => s"w$i").mkString(" "), // long ascii
      "z" * 5000) ++
      (0 until 100).map(i => s"Fuzz-$i '${i % 10}' ${"é" * (i % 3)} END")
    val df = (cases.map(Option(_)) :+ None).toDF("text")
    val builtin = filter(split(lower(col("text")), "[^a-z0-9']+"),
      t => length(t) > 0)
    val native = GraftFunctions.lowerTokens(col("text"))
    // same result type (array element nullability included) ...
    val sch = df.select(native.as("n"), builtin.as("b")).schema
    assert(sch("n").dataType === sch("b").dataType)
    // ... and same value row by row
    val rows = df.select(native.as("n"), builtin.as("b"))
      .as[(Option[Seq[String]], Option[Seq[String]])].collect()
    rows.foreach { case (n, b) => assert(n === b) }
  }

  test("Md5Prefix32/60 equal the conv(substring(md5)) chains exactly") {
    // the native hash must be bit-identical to the built-in chain the
    // DuckDB oracles replay, over ascii, unicode, empty, and null input
    val strs = Seq("", "a", "token", "w:42", "déjà 東京", "a" * 1000,
      "src:7", "the quick brown fox") ++
      (0 until 200).map(i => s"fuzz-$i-${("xyz" * (i % 7))}")
    val df = (strs.map(Option(_)) :+ None).toDF("s")
    val chain32 = conv(substring(md5(col("s").cast("binary")), 1, 8), 16, 10)
      .cast("long")
    val chain60 = conv(substring(md5(col("s").cast("binary")), 1, 15), 16, 10)
      .cast("long")
    val rows = df.select(
      GraftFunctions.md5Prefix32(col("s").cast("binary")).as("n32"),
      chain32.as("c32"),
      GraftFunctions.md5Prefix60(col("s").cast("binary")).as("n60"),
      chain60.as("c60"))
      .as[(Option[Long], Option[Long], Option[Long], Option[Long])].collect()
    rows.foreach { case (n32, c32, n60, c60) =>
      assert(n32 === c32); assert(n60 === c60)
    }
  }

  test("codegen kernels survive FORCED codegen (no silent fallback)") {
    // janino errors in doGenCode normally fall back to interpreted eval
    // silently — the round-12 cpu regression this codegen exists to fix
    // would reappear with no failing test. Force codegen-only evaluation
    // and forbid the whole-stage fallback, then re-check equality vs the
    // built-in chains the oracles replay.
    val confs = Seq(
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val strs = Seq("The Quick brown FOX", "déjà vu İstanbul", "", "a'b c",
        "z" * 2000) ++ (0 until 50).map(i => s"Fuzz $i é${"ab" * (i % 5)}")
      val df = (strs.map(Option(_)) :+ None).toDF("s")
      val rows = df.select(
          GraftFunctions.lowerTokens(col("s")).as("n"),
          filter(split(lower(col("s")), "[^a-z0-9']+"), t => length(t) > 0).as("b"),
          GraftFunctions.md5Prefix32(col("s").cast("binary")).as("n32"),
          conv(substring(md5(col("s").cast("binary")), 1, 8), 16, 10)
            .cast("long").as("c32"),
          GraftFunctions.md5Prefix60(col("s").cast("binary")).as("n60"),
          conv(substring(md5(col("s").cast("binary")), 1, 15), 16, 10)
            .cast("long").as("c60"))
        .as[(Option[Seq[String]], Option[Seq[String]], Option[Long],
             Option[Long], Option[Long], Option[Long])].collect()
      rows.foreach { case (n, b, n32, c32, n60, c60) =>
        assert(n === b); assert(n32 === c32); assert(n60 === c60)
      }
      // the array/vector kernels: codegen result must equal the
      // interpreted result the equality tests above already pin to the
      // built-in chains (interpreted values computed via eval() directly,
      // outside the forced-codegen plan)
      val toks = GraftFunctions.lowerTokens(col("s"))
      val gen = df.select(
          GraftFunctions.wordShingles(toks, 3).as("sh"),
          GraftFunctions.minhashSig(GraftFunctions.wordShingles(toks, 3), 8,
            graft.ops.Dedup.P).as("sig"),
          GraftFunctions.simhash64(toks).as("sim"),
          GraftFunctions.deflateRatio(col("s")).as("dr"))
        .as[(Option[Seq[String]], Option[Seq[Long]], Option[Long], Option[Double])]
        .collect()
      val interp = strs.map { s =>
        import org.apache.spark.unsafe.types.UTF8String
        val t = TextKernels.lowerTokens(UTF8String.fromString(s))
        val sh = TextKernels.wordShingles(t, 3)
        (sh.toObjectArray(org.apache.spark.sql.types.StringType).map(_.toString).toSeq,
          TextKernels.minhashSig(sh, 8, graft.ops.Dedup.P).toLongArray.toSeq,
          TextKernels.simhash64(t),
          DeflateRatio.ratio(UTF8String.fromString(s)))
      }
      gen.dropRight(1).zip(interp).foreach { case ((gsh, gsig, gsim, gdr), (ish, isig, isim, idr)) =>
        assert(gsh === Some(ish)); assert(gsig === Some(isig))
        assert(gsim === Some(isim)); assert(gdr === Some(idr))
      }
      assert(gen.last === ((None, None, None, None))) // null row
      // LshBucket under forced codegen vs direct interpreted eval
      val vecs = Seq(Seq(0.3, -0.2, 0.9), Seq(-1.0, 2.0, 0.5), Seq.empty[Double])
        .toDF("v")
      val gotB = vecs.select(GraftFunctions.lshBucket(col("v"), 4).as("b"))
        .as[Int].collect().toSeq
      // interpreted twin over a RESOLVED child (elemType reads the child's
      // dataType, so the expression must be bound to array<double>)
      val lb = LshBucket(org.apache.spark.sql.catalyst.expressions.BoundReference(
        0, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType), nullable = true), 4)
      val expB = vecs.select(col("v")).collect().map { r =>
        lb.bucketOf(org.apache.spark.sql.catalyst.util.ArrayData
          .toArrayData(r.getSeq[Double](0).toArray))
      }.toSeq
      assert(gotB === expB)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("MaxTrigramCount equals the explode/count formulation, also under forced codegen") {
    val strs = Seq("a b c a b c a b c", "one two", "", "x x x x x x",
      "the cat sat on the mat the cat sat", "déjà vu déjà vu déjà vu 東京",
      "Paella, déjà-vu & 東京 2024!") ++
      (0 until 60).map(i => (0 until i).map(j => s"w${(j * 7 + i) % 5}").mkString(" "))
    val df = (strs.map(Option(_)) :+ None).toDF("s")
      .withColumn("id", monotonically_increasing_id())
    val toks = TextOps.tokens(col("s"))
    val tris = when(size(toks) < 3, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(toks) - 2),
        i => concat_ws(" ", slice(toks, i, lit(3)))))
    val want = df.select(col("id"), explode(tris).as("tri"))
      .groupBy("id", "tri").count()
      .groupBy("id").agg(max("count").cast("int").as("m"))
      .as[(Long, Int)].collect().toMap
    val confs = Seq(
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val got = df.select(col("id"), col("s").isNull.as("null_text"),
          GraftFunctions.maxTrigramCount(toks).as("m"))
        .as[(Long, Boolean, Option[Int])].collect()
      got.foreach { case (id, nullText, m) =>
        assert(m === (if (nullText) None else Some(want.getOrElse(id, 0))), s"row $id")
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("MinHashSig equals the md5/conv permutation formula") {
    def h32(c: org.apache.spark.sql.Column) =
      conv(substring(md5(c.cast("binary")), 1, 8), 16, 10).cast("long")
    val sh = GraftFunctions.wordShingles(TextOps.tokens(col("text")), 3)
    val p = graft.ops.Dedup.P
    val hof = aggregate(
      transform(sh, s => h32(s)),
      array_repeat(lit(p), 8),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(7)),
        (m, i) => least(m, pmod(h * (i * 2 + 1) + (i * 101 + 17), lit(p)))))
    val rows = docs.select(
      GraftFunctions.minhashSig(sh, 8, p).as("native"), hof.as("hof"))
      .as[(Seq[Long], Seq[Long])].collect()
    rows.foreach { case (n, h) => assert(n === h) }
  }

  test("SimHash64 equals the conv/substring md5 bit-majority formula") {
    def h60(c: org.apache.spark.sql.Column) =
      conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")
    val toks = TextOps.tokens(col("text"))
    val th = transform(toks, t => h60(t))
    val hof = aggregate(
      sequence(lit(0), lit(59)), lit(0L),
      (acc, j) => acc + when(
        size(filter(th, h => call_function("shiftright", h, j).bitwiseAND(1) === 1)) * 2
          > size(th),
        call_function("shiftleft", lit(1L), j)).otherwise(lit(0L)))
    val rows = docs.select(
      GraftFunctions.simhash64(toks).as("native"), hof.as("hof"))
      .as[(Long, Long)].collect()
    rows.foreach { case (n, h) => assert(n === h) }
  }

  test("DotDouble sums left-to-right and nulls on length mismatch") {
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (Seq(0.1, 0.2), Seq(0.3, 0.4))
    ).toDF("a", "b")
    val got = df.select(GraftFunctions.dotDouble($"a", $"b")).as[Double].collect()
    assert(got(0) === 32.0)
    assert(math.abs(got(1) - 0.11) < 1e-12)
    val mismatched = Seq((Seq(1.0), Seq(1.0, 2.0))).toDF("a", "b")
      .select(GraftFunctions.dotDouble($"a", $"b")).as[Option[Double]].head()
    assert(mismatched.isEmpty)
  }

  test("LshBucket equals the HOF hyperplane formulation on float and double vectors") {
    val fvecs = Seq(
      (1L, Seq(0.5f, -1.25f, 3.0f, 0.0f)),
      (2L, Seq(-0.1f, -0.2f, -0.3f, 4.75f)),
      (3L, Seq.empty[Float]),
      (4L, Seq(1e-7f, -1e-7f, 2.5f, -9.9f, 0.125f))).toDF("id", "v")
    for (planes <- Seq(2, 4, 8)) {
      val rows = fvecs.select(
        GraftFunctions.lshBucket(col("v"), planes).as("native"),
        graft.ops.Similarity.lshBucketHof(col("v"), planes).as("hof"))
        .collect()
      rows.foreach(r => assert(r.getInt(0) === r.getInt(1), s"planes=$planes"))
    }
    val dvecs = Seq((1L, Seq(0.25, -3.5, 11.0))).toDF("id", "v")
    val r = dvecs.select(
      GraftFunctions.lshBucket(col("v"), 4).as("native"),
      graft.ops.Similarity.lshBucketHof(col("v"), 4).as("hof")).head()
    assert(r.getInt(0) === r.getInt(1))
  }

  test("SqDistDouble equals the HOF formulation on mixed float/double sides") {
    val df = Seq(
      (Seq(1.0f, 2.0f, 3.5f), Seq(0.5, -2.0, 3.5)),
      (Seq(0.0f, 0.0f, 0.0f), Seq(0.0, 0.0, 0.0))).toDF("a", "b")
    val rows = df.select(
      GraftFunctions.sqDistDouble(col("a"), col("b")).as("native"),
      graft.ops.Similarity.sqDistHof(col("a"), col("b")).as("hof")).collect()
    rows.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
    val mismatched = Seq((Seq(1.0), Seq(1.0, 2.0))).toDF("a", "b")
      .select(GraftFunctions.sqDistDouble($"a", $"b")).as[Option[Double]].head()
    assert(mismatched.isEmpty)
  }

  test("vector kernels stay inside generated code when fallback is forbidden") {
    // spark.sql.codegen.fallback=false turns any doGenCode failure into a
    // hard error instead of a silent interpreted re-plan, so this test
    // fails if the generated Java for the three vector kernels ever stops
    // compiling (null path included)
    val prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = Seq(
        (Seq(1.0, 2.0), Seq(3.0, 4.0)),
        (Seq(0.5, -0.5), Seq(1.0, 1.0))).toDF("a", "b")
      val got = df.select(
        GraftFunctions.dotDouble($"a", $"b").as("dot"),
        GraftFunctions.sqDistDouble($"a", $"b").as("sq"),
        GraftFunctions.sumSqDouble($"a").as("ss"))
        .as[(Double, Double, Double)].collect()
      assert(got(0) === ((11.0, 8.0, 5.0)))
      assert(got(1) === ((0.0, 2.5, 0.5)))
      val mm = Seq((Seq(1.0), Seq(1.0, 2.0))).toDF("a", "b")
        .select(GraftFunctions.dotDouble($"a", $"b"),
          GraftFunctions.sqDistDouble($"a", $"b"))
        .collect().head
      assert(mm.isNullAt(0) && mm.isNullAt(1))
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("SumSqDouble matches the HOF l2norm inner aggregate on float vectors") {
    val df = Seq(Seq(3.0f, 4.0f), Seq(0.0f), Seq(-1.5f, 2.25f, 0.5f)).toDF("v")
    val rows = df.select(
      sqrt(GraftFunctions.sumSqDouble(col("v"))).as("native"),
      graft.ops.Similarity.l2normHof(col("v")).as("hof")).collect()
    rows.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
  }

  test("GraftExtensions registers the functions for SQL") {
    val s2 = spark
    GraftExtensions.register(s2)
    locally {
      val r = s2.sql(
        """SELECT simhash64(array('alpha', 'beta')) AS s,
          |  minhash_sig(array('x y z'), 4, 4294967311) AS m,
          |  word_shingles(array('a', 'b', 'c', 'd'), 2) AS w,
          |  dot_double(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d
          |""".stripMargin).head()
      assert(r.getLong(0) != 0L)
      assert(r.getSeq[Long](1).length === 4)
      assert(r.getSeq[String](2) === Seq("a b", "b c", "c d"))
      assert(r.getDouble(3) === 11.0)
    }
  }

  test("DeflateRatio separates repetition from prose and handles edges") {
    import spark.implicits._
    val rows = Seq(
      (1L, "spam " * 400), // highly repetitive
      (2L, (1 to 400).map(i => s"w${i * 7919 % 2003}").mkString(" ")), // varied
      (3L, ""), // empty -> defined 1.0
      (4L, null.asInstanceOf[String]))
      .toDF("id", "text")
      .select($"id", GraftFunctions.deflateRatio($"text").as("r"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    val rep = rows(1L).asInstanceOf[Double]
    val varied = rows(2L).asInstanceOf[Double]
    // the boilerplate signal: repetition compresses far below varied text
    assert(rep < 0.1, s"repetitive ratio $rep")
    assert(varied > 2 * rep, s"varied $varied vs repetitive $rep")
    assert(rows(3L) === 1.0)
    assert(rows(4L) === null)
    // SQL registration
    GraftExtensions.register(spark)
    val viaSql = spark.sql("SELECT deflate_ratio('aaaaaaaaaaaaaaaa') AS r")
      .head().getDouble(0)
    assert(viaSql > 0.0 && viaSql < 1.5)
  }

  test("ByteEntropy: exact values for known distributions, edges, SQL") {
    import spark.implicits._
    val rows = Seq(
      (1L, "aaaa"),          // one symbol -> 0 bits
      (2L, "abab"),          // two equiprobable -> 1 bit
      (3L, "abcdabcd"),      // four equiprobable -> 2 bits
      (4L, ""),              // empty -> defined 0.0
      (5L, null.asInstanceOf[String]),
      (6L, "héhé"))          // utf-8 multibyte: 6 bytes, h/c3/a9 twice each
      .toDF("id", "text")
      .select($"id", GraftFunctions.byteEntropy($"text").as("e"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(rows(1L) === 0.0)
    assert(rows(2L) === 1.0)
    assert(rows(3L) === 2.0)
    assert(rows(4L) === 0.0)
    assert(rows(5L) === null)
    val tri = rows(6L).asInstanceOf[Double] // 3 symbols x2 -> log2(3)
    assert(math.abs(tri - math.log(3) / math.log(2)) < 1e-12, s"got $tri")
    GraftExtensions.register(spark)
    val viaSql = spark.sql("SELECT byte_entropy('abab') AS e").head().getDouble(0)
    assert(viaSql === 1.0)
  }
}
