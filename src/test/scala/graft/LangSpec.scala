package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.lang.{Parser, PlanError}

/** End-to-end language tests: navigational query text → plan → rows,
  * checked against independently-built DataFrame plans on sf0.001 —
  * the analogue of the reference's regression suite
  * (`src/htsql/ctl/regress.py` + `test/regress.yaml` golden outputs).
  */
class LangSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  val dir = "/root/testdata/sf0.001"
  lazy val g = Graft(spark, dir)

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  private def assertSameRows(actual: DataFrame, expected: DataFrame): Unit = {
    assert(actual.columns.toSeq == expected.columns.toSeq, "column names differ")
    val a = rows(actual)
    val e = rows(expected)
    assert(a.size == e.size, s"row counts differ: ${a.size} vs ${e.size}")
    assert(a == e)
  }

  private def t(name: String) = spark.read.parquet(s"$dir/$name.parquet")

  test("bare table scan: /region") {
    val df = g.query("/region")
    assert(df.columns.toSeq == Seq("r_regionkey", "r_name"))
    assert(df.count() == 5)
  }

  test("selection: /customer{c_custkey, c_name}") {
    assertSameRows(
      g.query("/customer{c_custkey, c_name}.sort(c_custkey)"),
      t("customer").select("c_custkey", "c_name").orderBy("c_custkey"))
  }

  test("sieve with literal coercion: /orders?o_totalprice>400000") {
    assert(g.query("/orders?o_totalprice>400000").count() ==
      t("orders").filter(col("o_totalprice") > 400000).count())
  }

  test("sieve null semantics drop rows") {
    // null_if makes some segments NULL; NULL predicate must drop the row
    val n = g.query("/customer?null_if(c_mktsegment,'BUILDING')='MACHINERY'").count()
    val e = t("customer").filter(col("c_mktsegment") === "MACHINERY").count()
    assert(n == e)
  }

  test("singular navigation: /lineitem{l_orderkey, order.o_orderdate}") {
    val got = g.query("/lineitem{l_orderkey, l_linenumber, order.o_orderdate}.sort(l_orderkey, l_linenumber)")
    val li = t("lineitem"); val o = t("orders")
    val exp = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select("l_orderkey", "l_linenumber", "o_orderdate")
      .orderBy("l_orderkey", "l_linenumber")
    assert(got.columns.toSeq == Seq("l_orderkey", "l_linenumber", "o_orderdate"))
    assert(rows(got) == rows(exp))
  }

  test("chain navigation: /customer{c_name, nation.region.r_name}") {
    val got = g.query("/customer{c_custkey, nation.region.r_name}.sort(c_custkey)")
    val exp = t("customer")
      .join(t("nation"), col("c_nationkey") === col("n_nationkey"))
      .join(t("region"), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("r_name"))
      .orderBy("c_custkey")
    assert(rows(got) == rows(exp))
  }

  test("flagship linked aggregate: /region{r_name, count(nation)}") {
    val got = g.query("/region{r_name, count(nation)}.sort(r_name)")
    val agg = t("nation").groupBy(col("n_regionkey")).agg(count(lit(1)).as("cnt"))
    val exp = t("region").join(agg, col("r_regionkey") === col("n_regionkey"), "left")
      .select(col("r_name"), coalesce(col("cnt"), lit(0L)).as("count"))
      .orderBy("r_name")
    assertSameRows(got, exp)
  }

  test("two-hop plural aggregate: /region{r_name, count(nation.customer)}") {
    val got = g.query("/region{r_name, count(nation.customer)}.sort(r_name)")
    val child = t("customer").join(
      t("nation").select("n_regionkey", "n_nationkey"),
      col("c_nationkey") === col("n_nationkey"))
    val agg = child.groupBy(col("n_regionkey")).agg(count(lit(1)).as("cnt"))
    val exp = t("region").join(agg, col("r_regionkey") === col("n_regionkey"), "left")
      .select(col("r_name"), coalesce(col("cnt"), lit(0L)).as("count"))
      .orderBy("r_name")
    assertSameRows(got, exp)
  }

  test("id() and links-as-values render identities") {
    val got = g.query("/customer{key := id(), nat := nation}.sort(key).limit(3)").collect()
    // single-column identities stay native-typed; nation renders as its FK
    got.foreach { r =>
      assert(r.getAs[Number]("key").longValue >= 0L)
      assert(r.getAs[Number]("nat").longValue >= 0L)
    }
    val composite = g.query("/lineitem{key := id()}.limit(1)").collect().head
    assert(composite.getString(0).split('.').length == 2) // (l_orderkey, l_linenumber)
  }

  test("root-scope scalar queries: /count(region) and /{…}") {
    assert(g.query("/count(region)").collect().head.getLong(0) == 5L)
    assert(g.query("/length('hello')").collect().head.getInt(0) == 5)
    val row = g.query(
      "/{n_regions := count(region), n_nations := count(nation), mx := max(orders.o_totalprice)}")
      .collect().head
    assert(row.getAs[Long]("n_regions") == 5L)
    assert(row.getAs[Long]("n_nations") == t("nation").count())
    assert(row.getAs[Double]("mx") ==
      t("orders").agg(max("o_totalprice")).collect().head.getDouble(0))
    // sieves still apply inside the detached argument
    val n = g.query("/count(orders?o_totalprice>400000)").collect().head.getLong(0)
    assert(n == t("orders").filter(col("o_totalprice") > 400000).count())
  }

  test("sieve on a linked aggregate: /customer?count(orders)>k") {
    val got = g.query("/customer?count(orders)>8{c_custkey}.sort(c_custkey)")
      .collect().map(_.getLong(0)).toSeq
    val exp = t("orders").groupBy("o_custkey").count().filter(col("count") > 8)
      .select(col("o_custkey")).collect().map(_.getLong(0)).sorted.toSeq
    assert(got == exp && got.nonEmpty)
  }

  test("sieve on a singular chain path: ?nation.region.r_name='ASIA'") {
    val got = g.query("/customer?nation.region.r_name='ASIA'{c_custkey}").count()
    val exp = t("customer")
      .join(t("nation"), col("c_nationkey") === col("n_nationkey"))
      .join(t("region"), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA").count()
    assert(got == exp && got > 0)
  }

  test("detached aggregate nested inside a linked aggregate's sieve") {
    val got = g.query(
      "/customer{c_custkey, n := count(orders?o_totalprice>avg(@orders.o_totalprice))}.sort(c_custkey)")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val avgPrice = t("orders").agg(
      sum(col("o_totalprice").cast("decimal(30,6)")).cast("double") / count(col("o_totalprice")))
      .collect().head.getDouble(0)
    val exp = t("customer").join(
        t("orders").filter(col("o_totalprice") > avgPrice)
          .groupBy("o_custkey").agg(count(lit(1)).as("n")),
        col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), coalesce(col("n"), lit(0L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == exp)
  }

  test("sieve against a detached aggregate: above-global-average filter") {
    val avgBal = t("customer").agg(
      sum(col("c_acctbal").cast("decimal(30,6)")).cast("double") / count(lit(1)))
      .collect().head.getDouble(0)
    val got = g.query("/customer?c_acctbal>avg(@customer.c_acctbal){c_custkey}").count()
    val exp = t("customer").filter(col("c_acctbal") > avgBal).count()
    assert(got == exp && got > 0)
  }

  test("literal coercion: date columns compare against string literals") {
    val n = g.query("/orders?o_orderdate>'1995-06-01'{o_orderkey}").count()
    val e = t("orders").filter(col("o_orderdate") > "1995-06-01").count()
    assert(n == e && n > 0)
    // and in IN-list membership
    val m = g.query("/orders?o_orderdate=('1995-06-01','1995-06-02'){o_orderkey}").count()
    val me = t("orders").filter(col("o_orderdate").isin("1995-06-01", "1995-06-02")).count()
    assert(m == me)
  }

  test("given(): expression-local scoped let") {
    val got = g.query(
      "/customer{c_custkey, n_big := given(count(orders?o_totalprice>$cap), cap := 400000)}.sort(c_custkey)")
    val agg = t("orders").filter(col("o_totalprice") > 400000)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
    val exp = t("customer").join(agg, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), coalesce(col("cnt"), lit(0L)).as("n_big"))
      .orderBy("c_custkey")
    assertSameRows(got, exp)
  }

  test("where() is the alias form of given()") {
    val a = g.query("/region{r_name, n := given(count(nation), x := 1)}.sort(r_name)")
    val b = g.query("/region{r_name, n := where(count(nation), x := 1)}.sort(r_name)")
    assertSameRows(a, b)
  }

  test("given() definitions do not leak out of the expression") {
    val e = intercept[PlanError] {
      g.query("/customer{c_custkey, a := given(1 + $x, x := 2), b := $x}").collect()
    }
    assert(e.getMessage.contains("$x"))
  }

  test("@ detach: root-scope aggregate is uncorrelated") {
    val got = g.query("/nation{n_nationkey, n_cust := count(customer), all_cust := count(@customer)}.sort(n_nationkey)")
    val total = t("customer").count()
    val rows0 = got.collect()
    assert(rows0.forall(_.getAs[Long]("all_cust") == total))
    // correlated column still varies per row
    assert(rows0.map(_.getAs[Long]("n_cust")).distinct.length > 1)
  }

  test("@ detach with sieve and column navigation") {
    val got = g.query("/region{r_regionkey, mx := max(@orders?o_totalprice>400000.o_totalprice)}.sort(r_regionkey)")
    val exp = t("orders").filter(col("o_totalprice") > 400000)
      .agg(max("o_totalprice")).collect().head.getDouble(0)
    got.collect().foreach(r => assert(r.getAs[Double]("mx") == exp))
  }

  test("@ outside an aggregate is a plan error") {
    val e = intercept[PlanError] {
      g.query("/nation{n_name, x := @customer}").collect()
    }
    assert(e.getMessage.contains("aggregate"))
  }

  test("filtered aggregate: /customer{c_custkey, count(orders?o_totalprice>400000)}") {
    val got = g.query("/customer{c_custkey, count(orders?o_totalprice>400000)}.sort(c_custkey)")
    val agg = t("orders").filter(col("o_totalprice") > 400000)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
    val exp = t("customer").join(agg, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), coalesce(col("cnt"), lit(0L)).as("count"))
      .orderBy("c_custkey")
    assertSameRows(got, exp)
  }

  test("sum/avg over link column: /nation{n_name, sum(customer.c_acctbal)}") {
    val got = g.query("/nation{n_nationkey, sum(customer.c_acctbal)}.sort(n_nationkey)")
    val agg = t("customer").groupBy(col("c_nationkey"))
      .agg(sum(col("c_acctbal").cast("decimal(30,6)")).cast("double").as("s"))
    val exp = t("nation").join(agg, col("n_nationkey") === col("c_nationkey"), "left")
      .select(col("n_nationkey"), col("s").as("sum"))
      .orderBy("n_nationkey")
    assertSameRows(got, exp)
  }

  test("quantifiers: exists/every with empty-flow defaults") {
    val got = g.query(
      "/customer{c_custkey, exists(events), every(orders.o_orderstatus='F')}.sort(c_custkey)")
      .collect()
    assert(got.length == 150)
    // exists over empty plural = false, every over empty plural = true
    val evUsers = t("events").select("user_id").distinct()
      .collect().map(_.getLong(0)).toSet
    got.foreach { r =>
      assert(r.getBoolean(1) == evUsers.contains(r.getLong(0)))
    }
  }

  test("sieve by exists → semi join: /customer?exists(events)") {
    assert(g.query("/customer?exists(events)").count() ==
      t("customer").join(t("events").select("user_id"),
        col("c_custkey") === col("user_id"), "left_semi").count())
  }

  test("sieve by !exists → anti join") {
    assert(g.query("/customer?!exists(events)").count() ==
      t("customer").join(t("events").select("user_id"),
        col("c_custkey") === col("user_id"), "left_anti").count())
  }

  test("quotient with complement: /(orders^o_orderpriority){...}") {
    val got = g.query(
      "/(orders^o_orderpriority){o_orderpriority, count(^), sum(^.o_totalprice)}.sort(o_orderpriority)")
    val exp = t("orders").groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("count"),
        sum(col("o_totalprice").cast("decimal(30,6)")).cast("double").as("sum"))
      .orderBy("o_orderpriority")
    assertSameRows(got, exp)
  }

  test("multi-kernel quotient: /(orders^{o_orderstatus, o_orderpriority}){...}") {
    val got = g.query(
      "/(orders^{o_orderstatus, o_orderpriority}){o_orderstatus, o_orderpriority, count(^)}" +
        ".sort(o_orderstatus, o_orderpriority)")
    val exp = t("orders").groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("count"))
      .orderBy("o_orderstatus", "o_orderpriority")
    assertSameRows(got, exp)
  }

  test("expression kernel quotient: /(orders^year(o_orderdate)){year, count(^)}") {
    val got = g.query("/(orders^year(o_orderdate)){year(o_orderdate), count(^)}.sort(year)")
    val exp = t("orders").groupBy(year(col("o_orderdate")).as("year"))
      .agg(count(lit(1)).as("count")).orderBy("year")
    assert(got.count() == exp.count())
  }

  test("quotient select: arithmetic over complement and detached aggregates") {
    val got = g.query(
      "/(orders^o_orderstatus){o_orderstatus, n := count(^), frac := count(^)/count(@orders)}.sort(o_orderstatus)")
      .collect()
    val total = t("orders").count()
    val exp = t("orders").groupBy("o_orderstatus").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got.foreach { r =>
      val s = r.getString(0)
      assert(r.getAs[Long]("n") == exp(s))
      assert(math.abs(r.getAs[Double]("frac") - exp(s).toDouble / total) < 1e-12)
    }
  }

  test("sieved complements: count(^?p), exists(^.p), sum(^?p.x)") {
    val got = g.query(
      "/(orders^o_orderstatus){o_orderstatus, n_big := count(^?o_totalprice>400000), " +
        "has_big := exists(^.o_totalprice>400000)}.sort(o_orderstatus)")
      .collect()
    val exp = t("orders").filter(col("o_totalprice") > 400000)
      .groupBy("o_orderstatus").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got.foreach { r =>
      val s = r.getString(0)
      assert(r.getAs[Long]("n_big") == exp.getOrElse(s, 0L))
      assert(r.getAs[Boolean]("has_big") == exp.contains(s))
    }
  }

  test("wildcard expands inside nested segments") {
    val row = g.query("/region{r_name, /nation{*}}.sort(r_name).limit(1)").collect().head
    val nations = row.getSeq[org.apache.spark.sql.Row](1)
    assert(nations.nonEmpty && nations.head.length == t("nation").columns.length)
  }

  test("bare quotient = distinct: /orders^o_orderstatus") {
    assert(g.query("/orders^o_orderstatus").count() ==
      t("orders").select("o_orderstatus").distinct().count())
  }

  test("locator: /nation[7]{n_name}") {
    val got = g.query("/nation[7]{n_name}").collect()
    val exp = t("nation").filter(col("n_nationkey") === 7).select("n_name").collect()
    assert(got.map(_.getString(0)).toSeq == exp.map(_.getString(0)).toSeq)
  }

  test("composite locator: /lineitem[3.2]") {
    assert(g.query("/lineitem[3.2]").count() ==
      t("lineitem").filter(col("l_orderkey") === 3 && col("l_linenumber") === 2).count())
  }

  test("sort directions and limit with skip") {
    val got = g.query("/part{p_partkey, p_retailprice}.sort(p_retailprice-, p_partkey+).limit(10, 5)")
    val exp = t("part").select("p_partkey", "p_retailprice")
      .orderBy(col("p_retailprice").desc, col("p_partkey").asc).offset(5).limit(10)
    assertSameRows(got, exp)
  }

  test("inline direction decorator: /region{r_name-}") {
    val got = g.query("/region{r_name-}")
    val exp = t("region").select("r_name").orderBy(col("r_name").desc)
    assertSameRows(got, exp)
  }

  test("define + reference: define(big := ...)") {
    val got = g.query("/orders.define(net := o_totalprice*0.95){o_orderkey, net}?net>380000.sort(o_orderkey)")
    val exp = t("orders").withColumn("net", col("o_totalprice") * 0.95)
      .filter(col("net") > 380000).select("o_orderkey", "net").orderBy("o_orderkey")
    // note: sieve after selection operates on projected columns
    assert(rows(got).toSet == rows(exp).toSet)
  }

  test("fork: /part?p_retailprice > avg(fork(p_brand).p_retailprice)") {
    val got = g.query("/part?p_retailprice>avg(fork(p_brand).p_retailprice)")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("p_brand"))
    val exp = t("part")
      .withColumn("ba", sum(col("p_retailprice").cast("decimal(30,6)")).over(w)
        .cast("double") / count(col("p_retailprice")).over(w))
      .filter(col("p_retailprice") > col("ba"))
    assert(got.count() == exp.count())
  }

  test("scalar function kit parity") {
    val got = g.query(
      "/customer{c_custkey, head(c_name, 3), slice(c_name, 9, -3), c_name+'|'+c_mktsegment}.sort(c_custkey)")
      .collect()
    assert(got.length == 150)
    val first = got.head
    assert(first.getString(1) == "Cus")
    assert(first.getString(3).contains("|"))
  }

  test("int/int division is exact, never truncating") {
    val got = g.query("/nation{n_nationkey, n_nationkey/2}.sort(n_nationkey)").collect()
    assert(got(3).getDouble(1) == 1.5) // 3/2 = 1.5, not 1
  }

  test("arithmetic on dates: year/extract") {
    val got = g.query("/orders{o_orderkey, year(o_orderdate)}.limit(1)").collect()
    assert(got.head.getInt(1) >= 1995)
  }

  test("IN idiom: x = ('a','b') and x != (...)") {
    val n = g.query("/customer?c_mktsegment=('MACHINERY','FURNITURE')").count()
    val e = t("customer").filter(col("c_mktsegment").isin("MACHINERY", "FURNITURE")).count()
    assert(n == e && n > 0)
    val n2 = g.query("/customer?c_mktsegment!=('MACHINERY','FURNITURE')").count()
    assert(n2 == 150 - n)
  }

  test("case-insensitive contains: ~") {
    val n = g.query("/customer?c_mktsegment~'hold'").count()
    val e = t("customer").filter(lower(col("c_mktsegment")).contains("hold")).count()
    assert(n == e && n > 0)
  }

  test("flow navigation re-roots axis: /nation.region") {
    // each nation's region — 25 rows (duplicates preserved)
    assert(g.query("/nation.region").count() == 25)
  }

  test("plural flow navigation: /region.nation") {
    assert(g.query("/region.nation").count() == 25)
  }

  test("parse errors carry position") {
    val e = intercept[Exception](g.query("/customer{"))
    assert(e.getMessage.contains("position") || e.getMessage.nonEmpty)
  }

  test("unknown attribute raises PlanError") {
    intercept[PlanError](g.query("/customer{c_bogus}").collect())
  }

  test("bind errors render a caret under the offending token") {
    val e = intercept[PlanError](g.query("/customer{c_bogus}"))
    // `c_bogus` starts at offset 10; the echo line indents by 12
    assert(e.pos == 10)
    assert(e.getMessage ==
      "unknown attribute 'customer.c_bogus'\n" +
      "  in query: /customer{c_bogus}\n" +
      (" " * ("  in query: ".length + 10)) + "^")
  }

  test("caret lands on the right line of a multi-line query") {
    val e = intercept[PlanError](g.query("/customer{c_custkey,\n  c_bogus}"))
    assert(e.getMessage ==
      "unknown attribute 'customer.c_bogus'\n" +
      "  in query: /customer{c_custkey,\n" +
      "              c_bogus}\n" +
      (" " * ("  in query: ".length + 2)) + "^")
  }

  test("caret lands mid-expression, not at the query head") {
    val e = intercept[PlanError](g.query("/customer{c_custkey, c_acctbal + oops}"))
    assert(e.pos == "/customer{c_custkey, c_acctbal + ".length)
    assert(e.getMessage.endsWith("^"))
  }

  test("plural link outside aggregate raises PlanError") {
    intercept[PlanError](g.query("/region{nation.n_name}").collect())
  }

  test("quotients and re-selections compose over selected flows via aliases") {
    // alias as quotient kernel over a selected flow
    val distinctSegs = g.query("/customer{seg := c_mktsegment}^seg")
    assert(distinctSegs.collect().map(_.getString(0)).toSet ==
      t("customer").select("c_mktsegment").distinct().collect().map(_.getString(0)).toSet)
    // full quotient selection (complement count) over the selected flow
    val grouped = g.query("/(customer{seg := c_mktsegment}^seg){seg, n := count(^)}.sort(seg)")
    val expGrouped = t("customer").groupBy(col("c_mktsegment").as("seg"))
      .agg(count(lit(1)).as("n")).orderBy("seg")
    assertSameRows(grouped, expGrouped)
    // re-selection referencing an aggregate alias from the first selection
    val re = g.query("/customer{c_custkey, n := count(orders)}{c_custkey, n2 := n*2}.sort(c_custkey)")
    val agg = t("orders").groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
    val expRe = t("customer").join(agg, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), (coalesce(col("cnt"), lit(0L)) * 2).as("n2"))
      .orderBy("c_custkey")
    assertSameRows(re, expRe)
  }

  test(":as decorator titles the output column") {
    // quoted title (spaces allowed), bare-identifier title, and a
    // direction decorator on either side of the title
    val got = g.query("/customer{c_custkey, c_name :as 'Customer Name'}.sort(c_custkey).limit(2)")
    assert(got.columns.toSeq == Seq("c_custkey", "Customer Name"))
    val got2 = g.query("/customer{c_custkey, c_acctbal :as bal}?bal>0.sort(c_custkey).limit(2)")
    assert(got2.columns.toSeq == Seq("c_custkey", "bal"))
    val got3 = g.query("/customer{c_custkey, c_acctbal- :as 'Balance'}.limit(2)")
    assert(got3.columns.toSeq == Seq("c_custkey", "Balance"))
    val top2 = got3.collect().map(_.getAs[Number](1).doubleValue)
    assert(top2.toSeq == top2.toSeq.sortBy(-(_: Double)))
    val got4 = g.query("/customer{c_custkey, c_acctbal :as 'Balance' +}.limit(2)")
    assert(got4.columns.toSeq == Seq("c_custkey", "Balance"))
    // `:as` wins over an `alias :=` prefix for the OUTPUT name only: the
    // := alias KEEPS its scope binding (reference parity — as() retitles
    // the header), and the title is also referenceable (superset)
    val got5 = g.query("/customer{c_custkey, n := c_acctbal :as bal2}?bal2>0.limit(2)")
    assert(got5.columns.toSeq == Seq("c_custkey", "bal2"))
    val got6 = g.query("/customer{c_custkey, n := c_acctbal :as bal2}?n>0.sort(c_custkey).limit(2)")
    assert(got6.columns.toSeq == Seq("c_custkey", "bal2"))
    val got6ref = g.query("/customer{c_custkey, n := c_acctbal}?n>0.sort(c_custkey).limit(2)")
    assert(got6.collect().map(_.getLong(0)).toSeq ==
      got6ref.collect().map(_.getLong(0)).toSeq)
  }

  test("a self-referencing selection alias applies its body exactly once") {
    // {x := x+1} reads the underlying column — NOT the new definition
    // (double-application would yield 2..6)
    val got = g.query("/region{r_regionkey := r_regionkey+1}.sort(r_regionkey)")
    assert(got.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    // re-selection chaining: the second k sees the FIRST k, once (×2, not ×4)
    val got2 = g.query("/region{k := r_regionkey}{k := k*2}.sort(k)")
    assert(got2.collect().map(_.getLong(0)).toSeq == Seq(0L, 2L, 4L, 6L, 8L))
    // a direction decorator on the self-referencing alias orders by the
    // single application too
    val got3 = g.query("/region{r_regionkey := r_regionkey+1 -}.limit(2)")
    assert(got3.collect().map(_.getLong(0)).toSeq == Seq(5L, 4L))
  }

  test("define() after a selection rebinds later sieves, not the chosen output") {
    // the selector binds where it appears (reference parity): the sieve
    // sees k := k+1 (column+1 > 2), the output keeps k = column
    val got = g.query("/region{k := r_regionkey}.define(k := k+1)?k>2.sort(k)")
    assert(got.collect().map(_.getAs[Number](0).longValue).toSeq == Seq(2L, 3L, 4L))
    // cross-alias: item b references alias a; a later define of a must not
    // rewrite b's already-chosen binding (but DOES drive the later sieve)
    val got2 = g.query(
      "/region{a := r_regionkey, b := a*10}.sort(b).define(a := 0)?a=0")
    assert(got2.collect().map(r => (r.getAs[Number](0).longValue,
      r.getAs[Number](1).longValue)).toSeq ==
      (0L to 4L).map(k => (k, k * 10)))
  }

  test("selection items can reference earlier aliases in the same selection") {
    val got = g.query("/customer{c_custkey, half := c_acctbal/2, q := half/2}.sort(c_custkey)")
    val exp = t("customer").select(col("c_custkey"),
        (col("c_acctbal") / 2).as("half"), (col("c_acctbal") / 2 / 2).as("q"))
      .orderBy("c_custkey")
    assertSameRows(got, exp)
  }

  test("define() with an aggregate body is usable in sieves and output") {
    val got = g.query(
      "/customer.define(total := sum(orders.o_totalprice))?total>400000{c_custkey, total}.sort(c_custkey)")
    val agg = t("orders").groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(30,6)")).cast("double").as("total"))
      .filter(col("total") > 400000)
    val exp = t("customer").join(agg, col("c_custkey") === col("o_custkey"))
      .select("c_custkey", "total").orderBy("c_custkey")
    assertSameRows(got, exp)
    // the aggCache collapses the sieve-time and output binds to ONE join
    val joins = got.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.length == 1, s"aggregate joined more than once:\n${got.queryExecution.optimizedPlan}")
  }

  test("aggregate cache invalidates when a transitive define dependency changes") {
    // x := y; redefining y must rebind count(orders?o_totalprice>x)
    val got = g.query(
      "/customer.define(y := 100000).define(x := y)?count(orders?o_totalprice>x)>0" +
        ".define(y := 400000)?count(orders?o_totalprice>x)>0{c_custkey}.sort(c_custkey)")
    val exp = t("orders").filter(col("o_totalprice") > 400000)
      .select("o_custkey").distinct().count()
    assert(got.count() == exp && exp > 0)
  }

  test("re-selection decorators replace a deferred sort and order a later limit") {
    val got = g.query("/customer{c_custkey}.sort(c_acctbal){c_custkey-}.limit(5)")
    val exp = t("customer").select("c_custkey").orderBy(col("c_custkey").desc).limit(5)
    assertSameRows(got, exp)
    // decorator + later limit without an intervening sort: top-5 by the
    // decorator, not 5 arbitrary rows sorted afterwards
    val got2 = g.query("/customer{c_custkey, c_acctbal-}.limit(5)")
    val exp2 = t("customer").orderBy(col("c_acctbal").desc)
      .select("c_custkey", "c_acctbal").limit(5)
    assertSameRows(got2, exp2)
  }

  test("segment-local define() wins over a same-named inherited definition") {
    val got = g.query(
      "/region.define(n_name := 'P'){r_regionkey, /nation.define(n_name := 'Q'){lbl := n_name}}" +
        ".sort(r_regionkey)").collect()
    val seg = got.head.getSeq[org.apache.spark.sql.Row](1)
    assert(seg.nonEmpty && seg.forall(_.getString(0) == "Q"))
  }

  test("enum validation still applies when the column wins over an inherited alias") {
    val e = intercept[PlanError](g.query(
      "/customer{c_custkey, o_orderstatus := c_name}?count(orders?o_orderstatus='BOGUS')>0"))
    assert(e.getMessage.contains("not a label of enum orders.o_orderstatus"))
  }

  test("a later .sort() wins over the selection's direction decorators") {
    val got = g.query("/customer{c_custkey, c_acctbal-}.sort(c_custkey).limit(5)")
    val exp = t("customer").orderBy("c_custkey")
      .select(col("c_custkey"), col("c_acctbal")).limit(5)
    assertSameRows(got, exp)
  }

  test("a parent selection alias does not capture a child-scope column") {
    // `nm` aliases a CUSTOMER column; inside the orders aggregate the child
    // scope's own columns must still win over the inherited definition —
    // and a child column named by the alias body must not leak across
    val got = g.query(
      "/customer{c_custkey, nm := c_name}?count(orders?o_totalprice>400000)>0.sort(c_custkey)")
    val agg = t("orders").filter(col("o_totalprice") > 400000)
      .select("o_custkey").distinct()
    assert(got.count() == agg.count() && got.count() > 0)
    // alias sharing a CHILD column's name: child scope reads its own column
    val got2 = g.query(
      "/customer{c_custkey, o_totalprice := c_acctbal}?count(orders?o_totalprice>400000)>0")
    assert(got2.count() == agg.count())
  }

  test("the table scope survives a selection (reference parity)") {
    // sieve on an UN-selected base column after {…}
    val got = g.query("/customer{c_custkey}?c_acctbal>0.sort(c_custkey)")
    val exp = t("customer").filter(col("c_acctbal") > 0)
      .select("c_custkey").orderBy("c_custkey")
    assertSameRows(got, exp)
    // sort by an un-selected base column; limit rides the deferred sort
    val got2 = g.query("/customer{c_custkey}.sort(c_acctbal-, c_custkey).limit(3)")
    val exp2 = t("customer").orderBy(col("c_acctbal").desc, col("c_custkey"))
      .select("c_custkey").limit(3)
    assertSameRows(got2, exp2)
    // navigation after selection re-roots the flow (selection drops)
    assert(g.query("/customer{c_custkey}.nation").count() == 150)
    // linked aggregate in the sieve over a selected flow
    val got3 = g.query("/customer{c_custkey, n := count(orders)}?n>8.sort(c_custkey)")
    val agg = t("orders").groupBy("o_custkey").count().filter(col("count") > 8)
    assert(got3.count() == agg.count() && got3.count() > 0)
  }

  test("navigation after a quotient projection is a scoped error, never a sentinel leak") {
    val e1 = intercept[PlanError](
      g.query("/(customer^c_mktsegment){seg := c_mktsegment}.nation"))
    assert(e1.getMessage.contains("cannot navigate after projection"))
    // define() keeps the projected scope navigable (Left) — same message
    val e2 = intercept[PlanError](
      g.query("/(customer^c_mktsegment){seg := c_mktsegment}.define(x := 1).nation"))
    assert(e2.getMessage.contains("cannot navigate after projection"))
    assert(!e2.getMessage.contains("__projected__"))
    val e3 = intercept[PlanError](
      g.query("/(customer^c_mktsegment){seg := c_mktsegment}.define(x := 1){x, /orders}"))
    assert(e3.getMessage.contains("after projection"))
    assert(!e3.getMessage.contains("__projected__"))
  }

  test("define() shadows a same-named column; body sees the outer scope") {
    // table scope: the definition wins over the column, its body reads it
    val got = g.query("/nation.define(n_name := upper(n_name)){n_nationkey, n_name}.sort(n_nationkey)")
    val exp = t("nation").select(col("n_nationkey"), upper(col("n_name")).as("n_name"))
      .orderBy("n_nationkey")
    assertSameRows(got, exp)
    // projected scope: define over an already-projected column
    val got2 = g.query("/region{r_regionkey, k := r_regionkey}.define(k := k+1){r_regionkey, k}.sort(r_regionkey)")
    val exp2 = t("region").select(col("r_regionkey"), (col("r_regionkey") + 1).as("k"))
      .orderBy("r_regionkey")
    assertSameRows(got2, exp2)
  }

  test("nested segment: /region{r_name, /nation{n_name}}") {
    val got = g.query("/region{r_name, /nation{n_nationkey, n_name}}.sort(r_name)").collect()
    assert(got.length == 5)
    val seg = got.head.getSeq[org.apache.spark.sql.Row](1)
    assert(seg.length == 5) // 5 nations per region
    assert(seg.map(_.getInt(0)) == seg.map(_.getInt(0)).sorted) // array_sort by key
  }

  test("nested segment with sieve and empty lists") {
    val got = g.query("/customer{c_custkey, /events?value>1000000}.sort(c_custkey)").collect()
    assert(got.length == 150)
    got.foreach(r => assert(r.getSeq[Any](1).isEmpty)) // no event has value>1e6
  }

  test("root segments: /{count, /region.sort(...){...}} parallel output") {
    val row = g.query(
      "/{n := count(region), /region.sort(r_name-){r_name}, /nation?n_regionkey=0{n_name}}")
      .collect().head
    assert(row.getAs[Long]("n") == 5L)
    val regions = row.getSeq[org.apache.spark.sql.Row](1).map(_.getString(0))
    assert(regions == t("region").collect().map(_.getString(1)).sorted.reverse.toSeq)
    val nations = row.getSeq[org.apache.spark.sql.Row](2).map(_.getString(0))
    assert(nations.toSet == t("nation").filter(col("n_regionkey") === 0)
      .collect().map(_.getAs[String]("n_name")).toSet)
  }

  test("nested segment honors explicit sort keys") {
    val got = g.query("/region{r_name, /nation.sort(n_name-){n_name}}.sort(r_name)")
      .collect()
    val exp = t("nation").join(t("region"), col("n_regionkey") === col("r_regionkey"))
      .select("r_name", "n_name").collect()
      .groupBy(_.getString(0)).view
      .mapValues(_.map(_.getString(1)).sorted(Ordering[String].reverse).toSeq).toMap
    got.foreach { r =>
      val names = r.getSeq[org.apache.spark.sql.Row](1).map(_.getString(0))
      assert(names == exp(r.getString(0)), s"segment order wrong for ${r.getString(0)}")
    }
  }

  test("nested segment honors limit (+skip): top-n rows per parent") {
    val got = g.query("/region{r_name, /nation.sort(n_name).limit(2){n_name}}.sort(r_name)")
      .collect()
    val exp = t("nation").join(t("region"), col("n_regionkey") === col("r_regionkey"))
      .select("r_name", "n_name").collect()
      .groupBy(_.getString(0)).view
      .mapValues(_.map(_.getString(1)).sorted.take(2).toSeq).toMap
    got.foreach { r =>
      val names = r.getSeq[org.apache.spark.sql.Row](1).map(_.getString(0))
      assert(names == exp(r.getString(0)))
    }
    // skip variant drops the first ranked row
    val skipped = g.query("/region{r_name, /nation.sort(n_name).limit(2,1){n_name}}.sort(r_name)")
      .collect()
    skipped.foreach { r =>
      val names = r.getSeq[org.apache.spark.sql.Row](1).map(_.getString(0))
      val full = t("nation").join(t("region"), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === r.getString(0))
        .select("n_name").collect().map(_.getString(0)).sorted.toSeq
      assert(names == full.slice(1, 3))
    }
  }

  test("doubly nested segments: /region{r_name, /nation{n_name, /customer{c_name}}}") {
    val got = g.query("/region{r_name, /nation{n_name, /customer{c_custkey, c_name}}}.sort(r_name)")
    val row = got.collect().head
    val nations = row.getSeq[org.apache.spark.sql.Row](1)
    assert(nations.nonEmpty)
    assert(nations.head.schema == null || nations.head.length == 2)
  }

  test("wildcard selection: /customer{*, nation.n_name}") {
    val got = g.query("/customer{*, nation.n_name}.sort(c_custkey)")
    assert(got.columns.toSeq ==
      Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment", "n_name"))
    assert(got.count() == 150)
  }

  test("top(): per-group top-k as ordered nested rows") {
    val got = g.query(
      "/customer{c_custkey, top(orders.sort(o_totalprice-), 2)}.sort(c_custkey)").collect()
    assert(got.length == 150)
    val withOrders = got.filter(_.getSeq[org.apache.spark.sql.Row](1).nonEmpty)
    assert(withOrders.nonEmpty)
    withOrders.foreach { r =>
      val rows = r.getSeq[org.apache.spark.sql.Row](1)
      assert(rows.length <= 2)
      val prices = rows.map(_.getAs[Double]("o_totalprice"))
      assert(prices == prices.sortBy(-(_: Double))) // rank order preserved
    }
    // cross-check the top-1 price against a window computation
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc)
    val exp = t("orders").withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_totalprice")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    withOrders.foreach { r =>
      assert(r.getSeq[org.apache.spark.sql.Row](1).head.getAs[Double]("o_totalprice")
        == exp(r.getLong(0)))
    }
  }

  test("top() with sieve: top(orders?o_orderstatus='F', 1)") {
    val got = g.query("/customer{c_custkey, top(orders?o_orderstatus='F', 1)}.sort(c_custkey)")
    assert(got.count() == 150)
  }

  test("autolimit injects an implicit limit (tweak.autolimit analogue)") {
    val limited = Graft(spark, dir, autoLimit = Some(7))
    assert(limited.query("/customer").count() == 7)
    assert(limited.query("/customer.limit(3)").count() == 3)
  }

  test("csv source: navigational queries over csv tables (tweak.filedb analogue)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_csv").toString
    Seq("region", "nation").foreach { n =>
      t(n).coalesce(1).write.mode("overwrite").option("header", "true")
        .csv(s"$tmp/${n}_dir")
      val part = new java.io.File(s"$tmp/${n}_dir").listFiles()
        .find(_.getName.endsWith(".csv")).get
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$tmp/$n.csv"))
    }
    val csvG = Graft(spark, tmp, format = "csv")
    val got = csvG.query("/region{r_name, count(nation)}.sort(r_name)").collect()
    assert(got.length == 5 && got.forall(_.getLong(1) == 5L))
  }

  test("json source: navigational queries over json-lines tables") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_json").toString
    Seq("region", "nation").foreach { n =>
      t(n).coalesce(1).write.mode("overwrite").json(s"$tmp/${n}_dir")
      val part = new java.io.File(s"$tmp/${n}_dir").listFiles()
        .find(_.getName.endsWith(".json")).get
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$tmp/$n.jsonl"))
    }
    val jsonG = Graft(spark, tmp, format = "json")
    val got = jsonG.query("/region{r_name, count(nation)}.sort(r_name)").collect()
    assert(got.length == 5 && got.forall(_.getLong(1) == 5L))
  }

  test("a table overwritten out of band is resolved again by the next query") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_fresh").toString
    try {
      val local = Graft(spark, tmp)
      t("region").write.parquet(s"$tmp/region.parquet")
      assert(local.query("/region").columns.toSeq == Seq("r_regionkey", "r_name"))
      assert(local.query("/region").count() == 5)
      // same session, same path: new rows and a new column set
      t("region").filter(col("r_regionkey") < 2)
        .select(col("r_regionkey"), lower(col("r_name")).as("r_name"),
          lit("rewritten").as("r_comment"))
        .write.mode("overwrite").parquet(s"$tmp/region.parquet")
      val after = local.query("/region.sort(r_regionkey)")
      assert(after.columns.toSeq == Seq("r_regionkey", "r_name", "r_comment"))
      assert(rows(after) == Seq(Seq(0L, "africa", "rewritten"), Seq(1L, "america", "rewritten")))
    } finally graft.queries.SessionScratch.rmTree(tmp)
  }

  test("a table deleted after a query fails the next query like a missing one") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_gone").toString
    try {
      val local = Graft(spark, tmp)
      t("region").write.parquet(s"$tmp/region.parquet")
      assert(local.query("/region").count() == 5)
      graft.queries.SessionScratch.rmTree(s"$tmp/region.parquet")
      val gone = intercept[org.apache.spark.sql.AnalysisException](local.query("/region"))
      // the error a never-resolved missing path raises
      val missing = intercept[org.apache.spark.sql.AnalysisException](
        spark.read.parquet(s"$tmp/region.parquet"))
      assert(gone.getCondition == "PATH_NOT_FOUND", gone.getMessage)
      assert(gone.getMessage == missing.getMessage)
      // and once it is back, the query answers again
      t("region").write.parquet(s"$tmp/region.parquet")
      assert(local.query("/region").count() == 5)
    } finally graft.queries.SessionScratch.rmTree(tmp)
  }

  test("fork() usable in a selection item") {
    val got = g.query("/part{p_partkey, brand_avg := avg(fork(p_brand).p_retailprice)}.sort(p_partkey)")
    assert(got.count() == 200)
  }

  test("meta catalog is queryable (tweak.meta analogue)") {
    assert(g.metaTables.count() == 10)
    assert(g.metaLinks.filter(col("direct_label") === "region").count() == 1)
    val cols = g.metaColumns.filter(col("table_name") === "region")
      .select("column_name").collect().map(_.getString(0)).toSet
    assert(cols == Set("r_regionkey", "r_name"))
  }

  test("formatters render") {
    val df = g.query("/region{r_name}.sort(r_name).limit(2)")
    assert(g.toJson(df).startsWith("[{"))
    assert(g.toCsv(df).startsWith("r_name"))
    assert(g.toText(df).contains("r_name"))
    val html = g.toHtml(df)
    assert(html.contains("<th>r_name</th>") && html.contains("<td>AFRICA</td>"))
    val xml = g.toXml(df)
    assert(xml.startsWith("<?xml") && xml.contains("<r_name>AFRICA</r_name>"))
  }

  test("in-memory renderers cap at maxRows; write* exports the full result") {
    val df = g.query("/customer{c_custkey, c_name}.sort(c_custkey)")
    // bounded collect — no renderer pulls an unbounded result to the driver
    val json = g.toJson(df, maxRows = 3)
    assert(json.count(_ == '{') == 3)
    val csv = g.toCsv(df, maxRows = 3)
    assert(csv.linesIterator.size == 4) // header + 3 rows
    // the full-export path is distributed df.write, not a collect
    val tmp = java.nio.file.Files.createTempDirectory("graft-export").toString
    g.writeJson(df, s"$tmp/j")
    assert(spark.read.json(s"$tmp/j").count() == df.count())
    g.writeCsv(df, s"$tmp/c")
    assert(spark.read.option("header", "true").csv(s"$tmp/c").count() == df.count())
    // nested segment columns JSON-encode instead of crashing the CSV sink
    g.writeCsv(g.query("/region{r_name, /nation{n_name}}"), s"$tmp/seg")
    val seg = spark.read.option("header", "true").csv(s"$tmp/seg")
    assert(seg.count() == 5)
    assert(seg.columns.toSeq == Seq("r_name", "nation"))
  }

  test("format decorators are owned by the parser: /region/:json") {
    assert(g.render("/region{r_name}.sort(r_name).limit(1)/:json").startsWith("[{"))
    assert(g.render("/region{r_name}.limit(1)/:csv").startsWith("r_name"))
    assert(g.render("/region{r_name}.limit(1)/:html").contains("<table>"))
    assert(g.render("/region{r_name}.limit(1)/:xml").startsWith("<?xml"))
    assert(g.render("/region{r_name}.limit(1)").contains("r_name")) // default txt
    // decorator is rejected where a plain query is expected
    intercept[graft.lang.ParseError] { g.query("/region/:json") }
    // unknown format name is a parse-level error
    intercept[graft.lang.ParseError] { g.render("/region/:yaml") }
  }

  // ---- unified binder: full function surface in post-projection scopes ----
  // (the r3 projectedCtx refactor claims uniform dispatch; these goldens pin
  // each kit in sieves/sorts/re-selections AFTER `{…}` and over quotient
  // outputs, plus the scoped error paths)

  test("post-projection date kit: sieve and sort on a projected date") {
    val got = g.query("/orders{o_orderkey, d := o_orderdate}?month(d)=3.sort(day(d), o_orderkey)")
    val exp = t("orders").select(col("o_orderkey"), col("o_orderdate").as("d"))
      .filter(month(col("d")) === 3)
      .orderBy(dayofmonth(col("d")), col("o_orderkey"))
    assertSameRows(got, exp)
  }

  test("post-projection null kit: is_null/null_if sieve, if_null re-selection") {
    val got = g.query(
      "/customer{c_custkey, seg := null_if(c_mktsegment,'BUILDING')}" +
        "?!is_null(seg){c_custkey, s := if_null(seg,'NONE')}.sort(c_custkey)")
    val exp = t("customer")
      .select(col("c_custkey"), nullif(col("c_mktsegment"), lit("BUILDING")).as("seg"))
      .filter(!col("seg").isNull)
      .select(col("c_custkey"), coalesce(col("seg"), lit("NONE")).as("s"))
      .orderBy("c_custkey")
    assertSameRows(got, exp)
  }

  test("post-projection conditional kit: if/switch over projected columns") {
    val got = g.query(
      "/customer{c_custkey, bal := c_acctbal}" +
        "{c_custkey, tier := if(bal>5000,'hi',bal>0,'mid','lo'), " +
        "m := switch(c_custkey-c_custkey, 0, 'zero', 'other')}.sort(c_custkey)")
    val exp = t("customer").select(
        col("c_custkey"),
        when(col("c_acctbal") > 5000, "hi").when(col("c_acctbal") > 0, "mid")
          .otherwise("lo").as("tier"),
        lit("zero").as("m"))
      .orderBy("c_custkey")
    assertSameRows(got, exp)
  }

  test("post-projection cast kit: casts in sieve and computed sort key") {
    val got = g.query(
      "/customer{c_custkey, bal := c_acctbal}" +
        "?head(text(c_custkey),1)='1'.sort(integer(bal), c_custkey)")
    val exp = t("customer").select(col("c_custkey"), col("c_acctbal").as("bal"))
      .filter(substring(col("c_custkey").cast("string"), 1, 1) === "1")
      .orderBy(col("bal").cast("long"), col("c_custkey"))
    assertSameRows(got, exp)
  }

  test("quotient outputs take the full function surface: sort + re-selection") {
    val sorted = g.query(
      "/(customer^c_mktsegment){seg := c_mktsegment, n := count(^)}.sort(length(seg)-, seg)")
    val expSorted = t("customer").groupBy(col("c_mktsegment").as("seg"))
      .agg(count(lit(1)).as("n"))
      .orderBy(length(col("seg")).desc, col("seg"))
    assertSameRows(sorted, expSorted)
    val reselected = g.query(
      "/(customer^c_mktsegment){seg := c_mktsegment, n := count(^)}" +
        "{s := upper(seg), n2 := n*2}.sort(s)")
    val expRe = t("customer").groupBy(col("c_mktsegment").as("seg"))
      .agg(count(lit(1)).as("n"))
      .select(upper(col("seg")).as("s"), (col("n") * 2).as("n2"))
      .orderBy("s")
    assertSameRows(reselected, expRe)
  }

  test("time(): TimeDomain as normalized text with working extractors") {
    val ev = new graft.model.Tables(spark, dir).events
    val got = g.query("/events{event_id, t := time(ts), h := hour(time(ts)), " +
      "sec := second(time(ts))}.sort(event_id).limit(20)")
    val exp = ev.select(col("event_id"), date_format(col("ts"), "HH:mm:ss").as("t"),
        hour(col("ts")).as("h"), second(col("ts")).as("sec"))
      .orderBy("event_id").limit(20)
    assertSameRows(got, exp)
    // literals normalize; invalid times are NULL like the other casts
    val row = g.query(
      "/{lt := time('07:08:09'), lh := hour(time('07:08:09')), bad := time('25:00:00')}")
      .collect().head
    assert(row.getString(0) == "07:08:09")
    assert(row.getInt(1) == 7)
    assert(row.isNullAt(2))
  }

  test("enum labels validate at bind time") {
    val e = intercept[PlanError](g.query("/orders?o_orderstatus='X'"))
    assert(e.getMessage.contains("not a label of enum orders.o_orderstatus"))
    assert(e.getMessage.contains("F, O, P"))
    // valid labels bind and run
    assert(g.query("/orders?o_orderstatus='F'.limit(1)").count() == 1)
    // literal-on-left, IN-lists, and singular-chain targets validate too
    intercept[PlanError](g.query("/orders?'Z'=o_orderstatus"))
    intercept[PlanError](g.query("/customer?c_mktsegment=('BUILDING','BOGUS')"))
    intercept[PlanError](g.query("/lineitem?order.o_orderstatus='Q'"))
    // a define shadowing the enum column wins lookup, so it is exempt
    assert(g.query("/orders.define(o_orderstatus := 'X')?o_orderstatus='X'.limit(1)")
      .count() == 1)
  }

  test("id() and locator after a selection keep working; quotient outputs error") {
    // scope survives the selection, so identity stays available
    val row = g.query("/customer{c_name}[1]").collect()
    assert(row.length == 1)
    assert(g.query("/customer{c_custkey}{k := id()}.sort(k).limit(2)").count() == 2)
    // a quotient output has no identity — scoped errors, no sentinel leak
    val e1 = intercept[PlanError](
      g.query("/(customer^c_mktsegment){seg := c_mktsegment}{id()}"))
    assert(e1.getMessage.contains("table scope"))
    val e2 = intercept[PlanError](
      g.query("/(customer^c_mktsegment){seg := c_mktsegment}[1]"))
    assert(e2.getMessage.contains("table flow"))
    val e3 = intercept[PlanError](
      g.query("/(customer^c_mktsegment){seg := c_mktsegment}.define(x := 1)[1]"))
    assert(e3.getMessage.contains("no identity"))
    assert(!e3.getMessage.contains("__projected__"))
  }
}

/** One shared local session for all suites. */
object SparkTestSession {
  lazy val get: SparkSession = {
    // native functions and the nanos conf come with the session builder,
    // so no suite depends on another having constructed a Graft first
    val s = SparkEntry.session("graft-test", 4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
