package graft.routing

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Differential check of the native evaluator against the Column reference
  * model (`package.scala` in this directory): random constraint trees of
  * every [[Constraint]] kind over random documents must get the same
  * verdict from `RegisteredSchema.valid` and from the reference predicates.
  *
  * Documents carry nulls at every level, NaN, ±0.0, ±Infinity and huge
  * doubles, empty arrays and arrays with null elements, non-ASCII strings,
  * and a raw JSON column that is sometimes corrupt, not an object, or
  * written with single quotes, NaN tokens or control characters, with
  * union-type numbers (BIGINT, DECIMAL(20,0), exponent form). Raw objects
  * never repeat a key: there the two readings differ on purpose (the
  * native reader keeps `JSON.parse`'s one-key, last-value semantics; see
  * RouterSpec). ScalaCheck runs from a fixed seed.
  */
class NativeValidatorDiffSpec extends SparkSpec {

  private val objType = StructType(Seq(
    StructField("sku", StringType), StructField("n", LongType)))
  private val docType = StructType(Seq(
    StructField("s", StringType),
    StructField("n", LongType),
    StructField("i", IntegerType),
    StructField("d", DoubleType),
    StructField("dec", DecimalType(10, 2)),
    StructField("b", BooleanType),
    StructField("arr", ArrayType(StringType)),
    StructField("nums", ArrayType(DoubleType)),
    StructField("objs", ArrayType(objType)),
    StructField("nested", StructType(Seq(
      StructField("x", StringType), StructField("y", LongType)))),
    StructField("raw", StringType)))

  private def orNull[A](g: Gen[A]): Gen[Any] = Gen.frequency(1 -> Gen.const(null), 5 -> g)

  private val strGen: Gen[String] = Gen.oneOf(
    Gen.oneOf("", "abc", "t12", "T9", "é漢字", "a.user+tag@example.co", "2026-08-12",
      "2026-08-12T10:00:00Z", "192.168.0.255", "https://example.com/a",
      "a-1.example.com", "-bad", "12", "ok", "warn", "😀x"),
    Gen.alphaNumStr.map(_.take(6)))

  private val doubleGen: Gen[Double] = Gen.oneOf(
    Gen.oneOf(Double.NaN, 0.0, -0.0, 1.5, -1.5, 5.0, 10.0, 100.0, 1e300, -1e300,
      Double.MaxValue, Double.PositiveInfinity, Double.NegativeInfinity, 0.3),
    Gen.chooseNum(-200.0, 200.0))

  private val longGen: Gen[Long] = Gen.oneOf(
    Gen.oneOf(0L, -1L, 1L, 5L, 10L, 100L, Long.MaxValue, Long.MinValue),
    Gen.chooseNum(-50L, 150L))

  private val decGen: Gen[java.math.BigDecimal] = Gen.oneOf(
    Gen.oneOf("0.00", "1.50", "-3.25", "99999999.99", "5.00", "10.00").map(new java.math.BigDecimal(_)),
    Gen.chooseNum(-10000L, 10000L).map(java.math.BigDecimal.valueOf(_, 2)))

  private val jsonScalar: Gen[String] = Gen.oneOf(
    "1", "-0", "42", "12345678901234567890", "4.5", "1e3", "1.5E2", "10.0",
    "123456789012345678901234567890123456789012", "true", "false", "null",
    "\"12\"", "\"abc\"", "\"é9\"", "\"34\"", "{\"a\":1}", "[1,\"x\"]", "[]", "{}",
    "{\"a\":{\"b\":2}}")

  private val rawGen: Gen[String] = Gen.frequency(
    6 -> (for {
      keys <- Gen.someOf("k", "v", "x-a", "x-b", "y", "é", "o")
      vals <- Gen.listOfN(keys.size, jsonScalar)
    } yield keys.zip(vals).map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")),
    3 -> Gen.oneOf("nope", "{", "{\"k\":1,", "", " ", "[1,2]", "\"str\"", "42", "null",
      "{\"k\":1} trailing", "{'k':1,'x-a':'12'}", "{\"v\":NaN}", "{\"x-a\":NaN}",
      "{\"v\":\"a\u0001b\"}", "{\"k\":\"x\u0007\"}", "{\"v\":Infinity}", "{\n \"v\": 1\n}",
      "{\"x-a\":[1, 2]}", "{\"v\":01}", "{\"o\":{\"a\":'q'}}", "{\"v\":\"\\q\"}"))

  private val docGen: Gen[Row] = for {
    s <- orNull(strGen); n <- orNull(longGen); i <- orNull(longGen.map(_.toInt))
    d <- orNull(doubleGen); dec <- orNull(decGen)
    b <- orNull(Gen.oneOf(true, false))
    arr <- orNull(Gen.oneOf(Gen.const(Seq.empty[String]),
      Gen.listOfN(3, Gen.frequency(1 -> Gen.const(null: String), 3 -> Gen.oneOf("a", "b", "é", "A")))))
    nums <- orNull(Gen.oneOf(Gen.const(Seq.empty[Any]),
      Gen.listOfN(3, orNull(Gen.oneOf(Double.NaN, 0.0, -0.0, 1.0, 2.5)))))
    objs <- orNull(Gen.oneOf(Gen.const(Seq.empty[Row]), Gen.listOfN(2, orNull(for {
      sku <- orNull(Gen.oneOf("a", "b")); k <- orNull(Gen.chooseNum(0L, 12L))
    } yield Row(sku, k)))))
    nested <- orNull(for { x <- orNull(strGen); y <- orNull(longGen) } yield Row(x, y))
    raw <- orNull(rawGen)
  } yield Row(s, n, i, d, dec, b, arr, nums, objs, nested, raw)

  // ---- constraint trees over docType --------------------------------------

  private val defs: Map[String, Seq[Constraint]] = Map(
    "#/definitions/small" -> Seq(NumRange("", Some(0), Some(10), exclusiveMax = true)),
    "#/definitions/named" -> Seq(Required("x"), Pattern("x", "^[a-z]+$")))

  private val leafGen: Gen[Constraint] = Gen.oneOf(
    Gen.oneOf("s", "n", "d", "nested", "nested.x", "arr", "raw").map(Required(_)),
    Gen.oneOf(
      EnumIn("s", Seq("ok", "warn", "é漢字")), EnumIn("n", Seq("1", "5", "-1")),
      EnumIn("d", Seq("NaN", "-0.0", "1.5")), EnumIn("dec", Seq("1.5", "0")),
      EnumIn("b", Seq("true")), EnumIn("i", Seq("100"))),
    for {
      p <- Gen.oneOf("n", "i", "d", "dec", "nested.y", "s")
      lo <- Gen.option(Gen.oneOf(-1.0, 0.0, 1.5, 5.0, 1e300))
      hi <- Gen.option(Gen.oneOf(0.0, 10.0, 100.0, 1e300))
      exLo <- Gen.oneOf(true, false); exHi <- Gen.oneOf(true, false)
    } yield NumRange(if (p == "s") "nested.y" else p, lo, hi, exLo && lo.nonEmpty, exHi && hi.nonEmpty),
    for {
      p <- Gen.oneOf("s", "nested.x", "n")
      rx <- Gen.oneOf("^t[0-9]+$", "[a-z]", "^$", "\\d", "漢")
    } yield Pattern(p, rx),
    for {
      p <- Gen.oneOf("s", "nested.x", "n")
      lo <- Gen.option(Gen.chooseNum(0, 3)); hi <- Gen.option(Gen.chooseNum(1, 6))
    } yield StrLength(p, lo, hi),
    for {
      p <- Gen.oneOf("n", "d", "dec", "i", "b")
      m <- Gen.oneOf(1.0, 2.0, 0.5, 3.0, 0.1)
    } yield MultipleOf(p, m),
    Gen.oneOf("arr", "nums", "objs").map(UniqueItems(_)),
    for {
      p <- Gen.oneOf("arr", "nums", "objs")
      lo <- Gen.option(Gen.chooseNum(0, 2)); hi <- Gen.option(Gen.chooseNum(0, 3))
    } yield ArrayItems(p, lo, hi),
    Gen.oneOf(
      ArrayAll("arr", Pattern("", "^[a-z]$")), ArrayAll("arr", Required("")),
      ArrayAll("nums", NumRange("", Some(0.0), Some(2.0))),
      ArrayAll("objs", Required("sku")), ArrayAll("objs", NumRange("n", None, Some(5.0))),
      ArrayAll("objs", Not(EnumIn("sku", Seq("b"))))),
    Gen.oneOf(Dependencies("s", Seq("n", "nested.x")), Dependencies("nested", Seq("nested.y"))),
    Gen.oneOf(Format.patterns.keys.toSeq).map(Format("s", _)),
    Gen.oneOf(Rebase("nested", Required("x")), Rebase("nested", Pattern("x", "^[a-z]+$")),
      Rebase("nested.y", Ref("#/definitions/small", () => defs)),
      Rebase("nested", Ref("#/definitions/named", () => defs))),
    for {
      allowed <- Gen.someOf("k", "v", "y", "o")
      pats <- Gen.someOf("^x-", "^é")
    } yield NoAdditionalProps("raw", allowed.toSeq, pats.toSeq),
    for {
      lo <- Gen.option(Gen.chooseNum(0, 2)); hi <- Gen.option(Gen.chooseNum(1, 4))
    } yield PropsCount("raw", lo, hi),
    for {
      k <- Gen.oneOf("^x-", "^v$", "^o$", ".")
      v <- Gen.oneOf("^\\d+$", "^\\[", "^\\{", "^[0-9.E]+$", "Infinity|NaN", "^true$")
    } yield PatternProps("raw", k, v),
    for {
      path <- Gen.oneOf("$", "$.v", "$.k", "$.o.a", "$.x-a")
      types <- Gen.someOf(TypeUnion.names.toSeq).map(_.toSeq)
    } yield TypeUnion("raw", path, types))

  private def treeGen(depth: Int): Gen[Constraint] =
    if (depth == 0) leafGen
    else Gen.frequency(
      6 -> leafGen,
      1 -> Gen.listOfN(2, treeGen(depth - 1)).map(AllOf(_)),
      1 -> Gen.listOfN(2, Gen.listOfN(2, treeGen(depth - 1))).map(AnyOf(_)),
      1 -> Gen.listOfN(3, Gen.listOfN(1, treeGen(depth - 1))).map(OneOf(_)),
      1 -> treeGen(depth - 1).map(Not(_)))

  private val params = Gen.Parameters.default
  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(params, Seed(seed))

  /** Simple class names of every constraint node in `cs`. */
  private def kinds(cs: Seq[Constraint]): Set[String] = cs.flatMap { c =>
    Set(c.getClass.getSimpleName) ++ (c match {
      case AnyOf(as) => kinds(as.flatten)
      case OneOf(as) => kinds(as.flatten)
      case AllOf(xs) => kinds(xs)
      case Not(x) => kinds(Seq(x))
      case Rebase(_, x) => kinds(Seq(x))
      case ArrayAll(_, x) => kinds(Seq(x))
      case _ => Set.empty[String]
    })
  }.toSet

  test("native verdicts equal the reference model's on random schemas and documents") {
    val rows = (0 until 400).map(i => sample(docGen, 1000L + i)) ++
      Seq(Row.fromSeq(Seq.fill(docType.size)(null)))
    val docs = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.zipWithIndex.map { case (r, i) => Row(i.toLong, r) }, 4),
      StructType(Seq(StructField("id", LongType), StructField("doc", docType))))
      .union(spark.range(1).select(col("id").plus(10000L), lit(null).cast(docType).as("doc")))
      .cache()
    // every kind at least once, then random trees of depth <= 2
    val fixed: Seq[Seq[Constraint]] = Seq(
      Seq(Rebase("nested", Ref("#/definitions/named", () => defs))),
      Seq(AnyOf(Nil)), Seq(OneOf(Nil)), Seq(AllOf(Nil)), Nil)
    val schemas = fixed ++ (0 until 90).map(i =>
      sample(Gen.listOfN(2, treeGen(2)), 7000L + i))
    val allKinds = Set("Required", "EnumIn", "NumRange", "Pattern", "StrLength",
      "AnyOf", "AllOf", "OneOf", "Not", "MultipleOf", "Ref", "Rebase",
      "UniqueItems", "Dependencies", "ArrayItems", "ArrayAll", "Format",
      "NoAdditionalProps", "PropsCount", "PatternProps", "TypeUnion")
    assert(allKinds -- kinds(schemas.flatten) === Set.empty[String])
    val verdicts = scala.collection.mutable.Set.empty[Any]
    schemas.grouped(16).foreach { batch =>
      val cols = batch.zipWithIndex.flatMap { case (cs, i) =>
        val s = RegisteredSchema(s"t/$i", cs)
        Seq(s.valid(col("doc")).as(s"n$i"), s.referenceValid(col("doc")).as(s"r$i"))
      }
      val got = docs.select(col("id") +: cols: _*).collect()
      batch.indices.foreach { i =>
        verdicts ++= got.map(_.get(1 + 2 * i))
        val bad = got.filter(r => r.get(1 + 2 * i) != r.get(2 + 2 * i))
        assert(bad.isEmpty,
          s"native vs reference differ for ${batch(i)} on " +
            bad.take(3).map(r => rows.lift(r.getLong(0).toInt).orNull).mkString("; ") +
            s" (native ${bad.headOption.map(_.get(1 + 2 * i))}, " +
            s"reference ${bad.headOption.map(_.get(2 + 2 * i))})")
      }
    }
    assert(verdicts === Set(true, false), "the generated cases must both pass and fail")
    docs.unpersist()
  }

  test("raw text past Jackson's read limits gets the reference verdict, failing no task") {
    val texts = Seq(
      s"""{"k":1,"v":${"9" * 1001}}""", // number past maxNumberLength
      s"""{"k":1,"v":${"9" * 1000}}""", // number at the limit
      s"""{"k":1,"v":"${"a" * 20000001}"}""", // string past maxStringLength
      s"""{"k":1,"${"x" * 50001}":2}""", // name past maxNameLength
      s"""{"k":${"[" * 1001}${"]" * 1001}}""", // deeper than maxNestingDepth
      // a lone 0xFF byte: malformed UTF-8, which only the reader-based
      // parsers read (as U+FFFD)
      """{"k":"#","x-a":"12","v":1}""",
      s"""{"k":"#","v":${"9" * 1001}}""")
    val rows = texts.zipWithIndex.map { case (t, i) =>
      Row(i.toLong, t.getBytes("UTF-8").map(b => if (b == '#') 0xFF.toByte else b))
    }
    val raws = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
        StructType(Seq(StructField("id", LongType), StructField("bin", BinaryType))))
      .select(col("id"), struct(col("bin").cast("string").as("raw")).as("doc"))
    val schemas = Seq(
      PropsCount("raw", Some(1), Some(1)), NoAdditionalProps("raw", Seq("k")),
      PatternProps("raw", ".", "^\\d+$"), TypeUnion("raw", "$.v", Seq("string")),
      TypeUnion("raw", "$", Seq("array")))
    val cols = schemas.zipWithIndex.flatMap { case (c, i) =>
      val s = RegisteredSchema(s"t/$i", Seq(c))
      Seq(s.valid(col("doc")).as(s"n$i"), s.referenceValid(col("doc")).as(s"r$i"))
    }
    val got = raws.select(col("id") +: cols: _*).orderBy("id").collect()
    for (r <- got; i <- schemas.indices)
      assert(r.get(1 + 2 * i) == r.get(2 + 2 * i),
        s"native vs reference differ for ${schemas(i)} on text ${r.getLong(0)}")
    // the key listing reads the over-long string's object (it skips values
    // undecoded), so its two keys break minProperties/maxProperties 1..1
    assert(!got(2).getBoolean(1))
  }
}
