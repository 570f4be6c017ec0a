package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import graft.functions.Ht
import graft.lang.{Ast, Lexer, ParseError, Parser}

/** Property tests for the scalar-function trap list (SURVEY.md §7.5.3) and
  * the parser — an improvement over the reference, which has no
  * property-based tests (its `regress.yaml` suites are example-based).
  */
class FunctionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._
  import org.apache.spark.sql.functions._

  /** Evaluate HTSQL head/tail/slice columns against Python-style string
    * slicing semantics on arbitrary ASCII strings and indices.
    */
  test("head/tail/slice match python-style semantics (property)") {
    val strs = Gen.listOfN(8, Gen.alphaNumChar).map(_.mkString).sample.toList ++
      List("", "a", "ab", "Customer#000000042")
    val ns = List(-25, -5, -1, 0, 1, 3, 5, 25)
    val cases = for { s <- strs; n <- ns } yield (s, n)
    val df = cases.toDF("s", "n")
    val got = df.select(
      $"s", $"n",
      Ht.head($"s", $"n").as("h"),
      Ht.tail($"s", $"n").as("t"),
      Ht.slice($"s", lit(2), $"n").as("sl")
    ).collect()
    got.foreach { r =>
      val (s, n) = (r.getString(0), r.getInt(1))
      def clamp(i: Int) = math.max(0, math.min(s.length, if (i < 0) s.length + i else i))
      val headExp = if (n >= 0) s.substring(0, math.min(n, s.length)) else s.substring(0, clamp(n))
      // negative tail(n) drops |n| chars from the START (HTSQL TailSig),
      // which clamps to "" when |n| >= length — unlike python s[n:]
      val tailExp = if (n >= 0) s.substring(s.length - math.min(n, s.length))
        else s.substring(math.min(-n, s.length))
      val lo = clamp(2); val hi = clamp(n)
      val sliceExp = if (hi > lo) s.substring(lo, hi) else ""
      assert(r.getString(2) == headExp, s"head('$s', $n)")
      assert(r.getString(3) == tailExp, s"tail('$s', $n)")
      assert(r.getString(4) == sliceExp, s"slice('$s', 2, $n)")
    }
  }

  test("concat treats NULL as empty string, result never NULL") {
    val df = Seq((Some("a"), Some("b")), (None, Some("b")), (Some("a"), None),
      (None: Option[String], None: Option[String])).toDF("x", "y")
    val got = df.select(Ht.concat($"x", $"y").as("c")).collect().map(_.getString(0))
    assert(got.toSeq == Seq("ab", "b", "a", ""))
  }

  test("3VL: and/or/not against truth tables with NULL") {
    val vals = Seq(Some(true), Some(false), None)
    val cases = for { a <- vals; b <- vals } yield (a, b)
    val df = cases.toDF("a", "b")
    val got = df.select($"a", $"b", ($"a" && $"b").as("and"), ($"a" || $"b").as("or"))
      .collect()
    got.foreach { r =>
      val a = Option(r.get(0)).map(_.asInstanceOf[Boolean])
      val b = Option(r.get(1)).map(_.asInstanceOf[Boolean])
      val andExp: Option[Boolean] =
        if (a.contains(false) || b.contains(false)) Some(false)
        else if (a.isEmpty || b.isEmpty) None else Some(true)
      val orExp: Option[Boolean] =
        if (a.contains(true) || b.contains(true)) Some(true)
        else if (a.isEmpty || b.isEmpty) None else Some(false)
      assert(Option(r.get(2)).map(_.asInstanceOf[Boolean]) == andExp)
      assert(Option(r.get(3)).map(_.asInstanceOf[Boolean]) == orExp)
    }
  }

  test("null-safe total equality == vs =") {
    val df = Seq((Some("x"), Some("x")), (None, Some("x")),
      (None: Option[String], None: Option[String])).toDF("a", "b")
    val got = df.select(Ht.totalEq($"a", $"b").as("te"), ($"a" === $"b").as("eq")).collect()
    assert(got.map(_.getBoolean(0)).toSeq == Seq(true, false, true))
    assert(Option(got(1).get(1)).isEmpty) // plain = is NULL when either side is
  }

  test("lexer round-trips all operator tokens") {
    val q = "/t{a := b+1, c- }?x>=2&y!~'z'|!(w==null())^k[3.2]"
    val toks = Lexer.tokenize(q)
    assert(toks.nonEmpty)
  }

  test("parser: random garbage fails with ParseError/LexError, never hangs") {
    val gen = Gen.listOfN(12, Gen.oneOf(
      "/", ".", "{", "}", "(", ")", "?", "^", ",", ":=", "+", "-",
      "a", "b", "42", "'s'", "count", "[", "]")).map(_.mkString(" "))
    val params = org.scalacheck.Gen.Parameters.default
    (1 to 200).foreach { i =>
      gen(params, org.scalacheck.rng.Seed(i.toLong)).foreach { q =>
        try { Parser.parse(q); () }
        catch {
          case _: ParseError | _: graft.lang.LexError => ()
        }
      }
    }
  }

  test("parser produces expected shapes") {
    import Ast._
    Parser.parse("/region{r_name, count(nation)}") match {
      case Select(Ident("region"), items) =>
        assert(items.map(_.expr) ==
          Seq(Ident("r_name"), Apply("count", Seq(Ident("nation")))))
      case other => fail(s"unexpected: $other")
    }
    Parser.parse("/a?b>1^c") match {
      case Quotient(Sieve(Ident("a"), _), Seq(Ident("c"))) => ()
      case other => fail(s"unexpected: $other")
    }
  }

  /** The shape-arg kernels resolve in pure SQL on `s`, coerce natural
    * literal spellings, and reject a wrong arity or a non-literal shape
    * arg with a message that names the function. */
  private def assertShapeArgKernels(s: SparkSession): Unit = {
    assert(s.sql(
      "SELECT vector_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect()(0).getDouble(0) == 11.0)
    // 2 centroids in dim 2: vec (1,0) is nearer cell 1
    assert(s.sql(
      """SELECT element_at(centroid_top_cells(array(1.0d, 0.0d),
        |  array(1.0d, 0.0d, 0.0d, 1.0d), 2, 1), 1) AS cell""".stripMargin)
      .collect()(0).getInt(0) == 1)
    val sigs = s.sql(
      "SELECT hyperplane_sigs(array(1.0d, 0.0d), 2, 4, 2, 42L) AS s")
      .collect()(0).getSeq[Long](0)
    assert(sigs.length == 2)
    // shape-arg coercion: integer seed `42` (IntegerType) casts to the
    // kernel's Long and yields the same signatures as the 42L spelling;
    // a DECIMAL-element centroid array casts to array<double>
    assert(s.sql(
      "SELECT hyperplane_sigs(array(1.0d, 0.0d), 2, 4, 2, 42) AS s")
      .collect()(0).getSeq[Long](0) == sigs)
    assert(s.sql(
      """SELECT element_at(centroid_top_cells(array(1.0d, 0.0d),
        |  array(1.0, 0.0, 0.0, 1.0), 2, 1), 1) AS cell""".stripMargin)
      .collect()(0).getInt(0) == 1)
    // wrong arity: a clear named message, not a raw IndexOutOfBounds
    val arity = intercept[Exception] {
      s.sql("SELECT centroid_top_cells(array(1.0d), array(1.0d), 1)")
        .collect()
    }
    assert(arity.getMessage.contains("centroid_top_cells expects 4 arguments"),
      s"unexpected arity error: ${arity.getMessage}")
    // non-literal shape arg: named position, bind-time contract stated
    val nonLit = intercept[Exception] {
      s.sql(
        """SELECT hyperplane_sigs(array(1.0d, 0.0d), 2, 4, 2, id)
          |FROM range(1)""".stripMargin).collect()
    }
    assert(nonLit.getMessage.contains("hyperplane_sigs argument 5 must be a literal"),
      s"unexpected non-literal error: ${nonLit.getMessage}")
    assert(s.sql("SELECT nfc_normalize('café') AS t")
      .collect()(0).getString(0) == "café")
  }

  test("injected kernels resolve in a FRESH session via pure SQL") {
    // a pure-SQL user of a new session gets the full native kit, the
    // shape-arg kernels included
    assertShapeArgKernels(SparkTestSession.get.newSession())
  }

  test("Tables keeps the injected builders on the shared session") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val reg = spark.sessionState.functionRegistry
    val id = FunctionIdentifier("hyperplane_sigs")
    val before = reg.lookupFunctionBuilder(id)
    assert(before.isDefined)
    // every HTSQL query constructs a Tables; it must not replace the
    // injected builders
    new graft.model.Tables(spark, "/root/testdata/sf0.001")
    assertShapeArgKernels(spark)
    assert(reg.lookupFunctionBuilder(id).exists(_ eq before.get))
  }

  test("the Bloom-filter pair resolves in pure SQL on a fresh session") {
    val fresh = spark.newSession()
    val hit = fresh.sql(
      """SELECT bloom_might_contain(
        |  (SELECT bloom_agg(xxhash64(id), 100L, 1024L) FROM range(10)),
        |  xxhash64(3L)) AS hit""".stripMargin)
    assert(hit.collect()(0).getBoolean(0))
  }
}
