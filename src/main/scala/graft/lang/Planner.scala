package graft.lang

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import graft.Execution
import graft.model.{Catalog, Link, Tables}
import graft.functions.Ht
import Ast._

/** Bind/plan error. `pos` is the source offset of the narrowest AST node
  * whose binding failed (−1 when no positioned node encloses the failure);
  * the API boundary (`Graft.query`) renders a caret under it — the analogue
  * of the reference's marked input spans (`src/htsql/core/error.py`).
  */
final class PlanError(msg: String, val pos: Int = -1) extends RuntimeException(msg)

/** Binder + planner: navigational AST → Spark `DataFrame` plan.
  *
  * Collapses the reference's bind→encode→rewrite→compile→assemble→reduce→dump
  * pipeline (`src/htsql/core/tr/`) into one pass: scopes and link resolution
  * mirror `bind.py`/`lookup.py`, the flow-algebra semantics (linked
  * aggregates over `AggregateUnit`, quotients over `QuotientSpace`,
  * complements via `CoveringUnit` — `src/htsql/core/tr/space.py`) become
  * groupBy/join-back/window patterns, and Catalyst replaces every
  * backend-SQL stage. Columns are referenced by name (`col("…")`), so plans
  * stay valid as joins accrete onto the scope's DataFrame.
  *
  * Cardinality tracking (the essence of `encode.py`): navigation through a
  * reverse link is *plural* and only legal inside an aggregate or a nested
  * segment; the binder extracts the maximal reverse-link prefix of an
  * aggregate argument, builds the child flow for it, and evaluates the rest
  * of the expression in that child scope.
  */
final class Planner(spark: SparkSession, dir: String, catalog: Catalog = Catalog.default,
    format: String = "parquet") {

  // the execution-mode rule (graft.Execution): a query binds on the
  // session's interpreted twin, and binds again on `spark` itself when the
  // tables it touched reach the bound
  private val interpretedTables = new Tables(Execution.interpreted(spark), dir, format)
  private lazy val compiledTables = new Tables(spark, dir, format)
  private var tables = interpretedTables
  private var aggCounter = 0

  /** Mutable per-query scope: the current axis table, its accreting
    * DataFrame (base columns + prefixed singular-join columns + aggregate
    * join-backs), named definitions, and the set of joined chains.
    */
  private final class Ctx(
      val table: String,
      var df: DataFrame,
      var defines: Map[String, Ast],
      var joined: Set[String],
      explicitCols: Option[Seq[String]] = None
  ) {
    val baseColumns: Seq[String] = explicitCols.getOrElse(tables(table).columns.toSeq)
    def isRoot: Boolean = table == "__root__"
    def isProjected: Boolean = table == "__projected__"
    /** Names in `defines` that were INHERITED from an enclosing scope
      * (aggregate child flows, segments, detached flows carry the parent's
      * definitions in). An inherited name must not shadow this scope's own
      * columns — the reference resolves the inner scope's attributes first
      * — while a definition made IN this scope still wins (redefinition).
      */
    var inherited: Set[String] = Set.empty

    /** Pending output decoration: a `{…}` selection does NOT re-scope the
      * flow (reference: selection decorates output, the table scope stays
      * visible to later sieves/sorts — `tr/bind.py` keeps binding in the
      * same lookup context). Materialized by `plan()`.
      */
    var selection: Option[Seq[Item]] = None
    /** The defines in force when `selection` was taken: items bind under
      * THIS map at materialization (the selector binds where it appears),
      * so a `define()` between the selection and the end of the pipeline
      * redefines names for later sieves/sorts without rewriting the
      * already-chosen output — including items that reference ANOTHER
      * alias the later define shadows.
      */
    var selectionDefines: Map[String, Ast] = Map.empty
    /** Sort deferred past a pending selection: aggregate items join onto
      * the frame at materialization, which would destroy an eager orderBy,
      * so the bound keys re-apply just before the final projection.
      */
    var pendingSort: Seq[Column] = Nil
    /** Linked/detached aggregates already joined onto `df`, keyed by
      * (fn, argument AST, defines snapshot) → the bound column. Lets an
      * aggregate referenced twice (e.g. a selection alias reused in a
      * sieve) join once instead of once per reference.
      */
    val aggCache = scala.collection.mutable.Map.empty[(String, Ast, Map[String, Ast]), Column]
  }

  /** The ROOT scope (reference: the home class): a one-row axis with no
    * table — `/count(region)` and `/{…}` evaluate here, with every flow
    * argument implicitly detached (`@`).
    */
  private def rootCtx: Ctx =
    new Ctx("__root__", tables.spark.range(1).toDF("__root"), Map.empty, Set.empty,
      Some(Seq("__root")))

  /** Scope over a genuinely projected frame — a quotient's grouped output
    * or a root-scope computation. (A plain `{…}` selection does NOT come
    * here: it decorates the surviving table scope, `Ctx.selection` —
    * reference parity.) Names resolve to the frame's columns and the FULL
    * scalar-function surface applies — the same `applyFn` table as table
    * scopes, because the reference binds uniformly in every scope
    * (`src/htsql/core/tr/fn/bind.py` dispatches one function table
    * regardless of scope). No catalog table backs this scope, so link
    * navigation and linked aggregates report scope errors instead.
    */
  private def projectedCtx(df: DataFrame): Ctx =
    new Ctx("__projected__", df, Map.empty, Set.empty, Some(df.columns.toSeq))

  /** Replace free references to `name` (bare or `$name`) with `repl` —
    * used to chain redefinitions lexically. Does not descend into a
    * `given()` that rebinds the same name (that inner scope shadows).
    */
  private def substituteName(ast: Ast, name: String, repl: Ast): Ast = ast match {
    case Ident(`name`) => repl
    case Ref(`name`) => repl
    case Apply(fn @ ("given" | "where"), args)
        if args.tail.exists {
          case Apply("__def", Seq(StringLit(`name`), _)) => true
          case _ => false
        } => Apply(fn, args) // inner := rebinds the name; leave untouched
    case Apply(fn, args) => Apply(fn, args.map(substituteName(_, name, repl)))
    case Compose(b, m) => Compose(substituteName(b, name, repl), m)
    case Sieve(b, p) =>
      // a shadow introduced anywhere in the base flow (nested selection
      // alias, define, kernel column) covers operands bound in that
      // flow's scope — the predicate's occurrences are the INNER binding
      Sieve(substituteName(b, name, repl),
        if (introducesShadow(b, name)) p else substituteName(p, name, repl))
    case SortOp(b, keys) =>
      SortOp(substituteName(b, name, repl),
        if (introducesShadow(b, name)) keys
        else keys.map(k => SortKey(substituteName(k.expr, name, repl), k.ascending)))
    case Select(b, items) =>
      // an item alias `name := …` rebinds the name for LATER items (its own
      // body still sees the previous binding — chaining); stop substituting
      // from the item after the shadow. A shadow from the base flow covers
      // every item.
      val nb = substituteName(b, name, repl)
      if (introducesShadow(b, name)) Select(nb, items)
      else {
        val shadowAt = items.indexWhere(it =>
          it.alias.contains(name) || it.title.contains(name))
        Select(nb, items.zipWithIndex.map { case (it, i) =>
          if (shadowAt >= 0 && i > shadowAt) it
          else it.copy(expr = substituteName(it.expr, name, repl))
        })
      }
    case Quotient(b, kernels) =>
      Quotient(substituteName(b, name, repl),
        if (introducesShadow(b, name)) kernels
        else kernels.map(substituteName(_, name, repl)))
    case LimitOp(b, n, skip) => LimitOp(substituteName(b, name, repl), n, skip)
    case Locator(b, ids) => Locator(substituteName(b, name, repl), ids)
    case Segment(f) => Segment(substituteName(f, name, repl))
    case DefineOp(b, defs) =>
      // same shadowing rule as given(): a def of the same name rebinds it
      // for later defs; its own body chains through the previous binding
      val nb = substituteName(b, name, repl)
      if (introducesShadow(b, name)) DefineOp(nb, defs)
      else {
        val shadowAt = defs.indexWhere(_._1 == name)
        DefineOp(nb, defs.zipWithIndex.map { case ((n2, body), i) =>
          if (shadowAt >= 0 && i > shadowAt) (n2, body)
          else (n2, substituteName(body, name, repl))
        })
      }
    case other => other
  }

  /** Does planning this flow leave `name` bound in the resulting scope —
    * a selection alias, a define, or a quotient kernel column of that name
    * (the projected scope resolves the kernel's output column first)?
    * Operands bound in such a flow's scope must not be substituted when
    * chaining redefinitions: their occurrences refer to the inner binding.
    */
  private def introducesShadow(ast: Ast, name: String): Boolean = ast match {
    case Select(b, items) =>
      items.exists(it => it.alias.contains(name) || it.title.contains(name)) ||
        introducesShadow(b, name)
    case DefineOp(b, defs) =>
      defs.exists(_._1 == name) || introducesShadow(b, name)
    case Quotient(b, kernels) =>
      kernels.exists {
        case Ident(n) => n == name
        case Compose(_, Ident(n)) => n == name
        case _ => false
      } || introducesShadow(b, name)
    case Sieve(b, _) => introducesShadow(b, name)
    case SortOp(b, _) => introducesShadow(b, name)
    case LimitOp(b, _, _) => introducesShadow(b, name)
    case Locator(b, _) => introducesShadow(b, name)
    case _ => false
  }

  /** Re-root a flow argument's head at the home scope (used when binding
    * aggregates in the root ctx — `/count(region)` ≡ `count(@region)`).
    */
  private def wrapRoot(a: Ast): Ast = a match {
    case Ident(t) => Apply("@", Seq(Ident(t)))
    case Compose(b, m) => Compose(wrapRoot(b), m)
    case Sieve(b, p) => Sieve(wrapRoot(b), p)
    case other => other
  }

  // -------------------------------------------------------------- entry --

  /** `ast`'s DataFrame, on the session [[Execution]] picks for the input
    * bytes of the tables it touches: bound on the interpreted twin first,
    * and bound again on `spark` when those bytes reach the bound.
    */
  def plan(ast: Ast): DataFrame = {
    tables = interpretedTables
    val df = bind(ast)
    if (Execution.interprets(tables.bytes)) df
    else { tables = compiledTables; bind(ast) }
  }

  private def bind(ast: Ast): DataFrame = planFlow(ast) match {
    case Left(ctx) =>
      ctx.selection match {
        case Some(items) =>
          // materialize under the selection-time defines: later define()s
          // affect later sieves/sorts, never the already-chosen output
          val saved = ctx.defines
          ctx.defines = ctx.selectionDefines
          try selectItems(ctx, items) finally ctx.defines = saved
        case None =>
          val base = ctx.df.select(ctx.baseColumns.map(col): _*)
          if (ctx.pendingSort.nonEmpty) base.orderBy(ctx.pendingSort: _*) else base
      }
    case Right(df) => df
  }

  /** Re-throw a position-less PlanError with the current node's position —
    * wrapped around every dispatch point, so the NARROWEST positioned node
    * on the failing path wins (inner binds run inside their own wrapper
    * first). Keeps the ~40 throw sites position-free.
    */
  private def reposition[A](ast: Ast)(body: => A): A =
    try body catch {
      case e: PlanError if e.pos < 0 && ast.pos >= 0 =>
        throw new PlanError(e.getMessage, ast.pos)
    }

  /** A flow is either still a navigable table scope (Left) or a projected /
    * grouped result (Right).
    */
  private def planFlow(ast: Ast): Either[Ctx, DataFrame] =
    reposition(ast)(planFlowImpl(ast))

  private def planFlowImpl(ast: Ast): Either[Ctx, DataFrame] = ast match {
    case Ident(name) if catalog.isTable(name) =>
      Left(new Ctx(name, tables(name), Map.empty, Set.empty))

    case Ident("__root__") =>
      Left(rootCtx)

    case Ident(name) =>
      throw new PlanError(s"unknown table '$name'")

    // `/count(region)` / `/length('abc')` — top-level scalar expression
    // evaluated in the root scope
    case Apply(fn, args) =>
      val ctx = rootCtx
      val c = bindScalar(ctx, Apply(fn, args))
      Right(ctx.df.select(c.as(fn)))

    case Sieve(base, pred) =>
      planFlow(base) match {
        case Left(ctx) => sieveCtx(ctx, pred); Left(ctx)
        case Right(df) =>
          // post-projection sieve: full binder over the projected scope
          // (binding may cross-join detached aggregates onto ctx.df, so
          // re-project the original columns afterwards)
          val ctx = projectedCtx(df)
          sieveCtx(ctx, pred)
          Right(ctx.df.select(ctx.baseColumns.map(col): _*))
      }

    case DefineOp(base, defs) =>
      planFlow(base) match {
        case Left(ctx) =>
          // redefinition chains lexically: the new body sees the PREVIOUS
          // definition of the same name (define(k := k+1) after k := x
          // means k := x+1), matching reference lookup order
          defs.foreach { case (n, body) =>
            val chained = ctx.defines.get(n)
              .map(old => substituteName(body, n, old)).getOrElse(body)
            ctx.defines += n -> chained
            ctx.inherited -= n
          }
          Left(ctx)
        case Right(df) =>
          // define() over a projected flow: definitions bind against the
          // projected columns (continues as a navigable projected scope)
          val ctx = projectedCtx(df)
          ctx.defines ++= defs
          Left(ctx)
      }

    case Locator(base, ids) =>
      planFlow(base) match {
        case Left(ctx) =>
          if (ctx.isProjected)
            throw new PlanError("locator requires a table flow (a projected flow has no identity)")
          val pk = catalog.primaryKey(ctx.table)
          if (pk.length != ids.length)
            throw new PlanError(s"identity [${ids.mkString(".")}] has ${ids.length} fields " +
              s"but ${ctx.table} has a ${pk.length}-column key")
          val cond = pk.zip(ids).map { case (k, v) => col(k) === lit(v) }.reduce(_ && _)
          ctx.df = ctx.df.filter(cond)
          Left(ctx)
        case Right(_) => throw new PlanError("locator requires a table flow")
      }

    // quotient WITH selection: the group is the row — complement aggregates
    // join the same groupBy (recognized here, not in a planQuery special
    // case, so any pipeline suffix composes: re-select, sieve, sort, limit)
    case Select(Quotient(base, kernels), items) =>
      planFlow(base) match {
        case Left(ctx) => Right(quotientSelect(ctx, kernels, items))
        case Right(df) => Right(quotientSelect(projectedCtx(df), kernels, items))
      }

    case Select(base, items) =>
      planFlow(base) match {
        case Left(ctx) =>
          // selection decorates output; the scope SURVIVES (reference
          // parity: a later sieve/sort may reference un-selected base
          // columns). Aliases become scope definitions; re-selection
          // replaces the previous decoration. Each aliased item's expr is
          // SNAPSHOTTED as its chained body — the item then binds with its
          // own name OFF the scope, applying the definition exactly once
          // (binding the raw expr would resolve its free occurrence of the
          // alias through the just-registered definition a second time:
          // {k := k+1} must read the underlying column, not k+1+1), and a
          // define() AFTER the selection redefines the name for later
          // sieves/sorts without rewriting the already-chosen output
          // (reference: the selector binds where it appears).
          val snap = items.map {
            case it @ Item(expr, alias, _, title)
                if !expr.isInstanceOf[Segment] && (alias.nonEmpty || title.nonEmpty) =>
              // both the `:=` alias and the `:as` title become scope names
              // (the alias per the reference; the title as a deliberate
              // superset so `{x :as t}?t>0` reads naturally) — each
              // self-reference resolves to the PRIOR definition, once
              var body = expr
              for (n <- (alias.toSeq ++ title).distinct; old <- ctx.defines.get(n))
                body = substituteName(body, n, old)
              for (n <- (alias.toSeq ++ title).distinct) {
                ctx.defines += n -> body
                ctx.inherited -= n
              }
              it.copy(expr = body)
            case it => it
          }
          // direction decorators ARE this selection's ordering: translate
          // them into the deferred sort, so a later `.limit()` picks its
          // rows under this order, and a later `.sort()` or decorated
          // re-selection REPLACES it (later op wins). A decorator-less
          // re-selection leaves the standing flow order alone.
          val decor = snap.collect {
            case Item(e, alias, Some(asc), title) if !e.isInstanceOf[Segment] =>
              direction(bindSansAlias(ctx, e, alias.toSeq ++ title), asc)
          }
          if (decor.nonEmpty) ctx.pendingSort = decor
          ctx.selection = Some(snap)
          ctx.selectionDefines = ctx.defines
          Left(ctx)
        case Right(df) =>
          // re-selection over a grouped/projected frame: selection binds
          // against the frame's columns with the full function surface
          Right(selectItems(projectedCtx(df), items))
      }

    case Quotient(base, kernels) =>
      planFlow(base) match {
        case Left(ctx) => Right(quotientDistinct(ctx, kernels))
        // quotient over a projected flow: distinct kernel values of the
        // projection (kernels bind over the projected columns)
        case Right(df) => Right(quotientDistinct(projectedCtx(df), kernels))
      }

    case SortOp(base, keys) =>
      planFlow(base) match {
        case Left(ctx) =>
          val cols = keys.map(k => direction(bindScalar(ctx, k.expr), k.ascending))
          if (ctx.selection.isDefined)
            // defer past the pending selection: materialization may still
            // join aggregate items onto the frame, which drops an eager
            // order — the bound keys re-apply before the final projection
            ctx.pendingSort = cols
          else ctx.df = ctx.df.orderBy(cols: _*)
          Left(ctx)
        case Right(df) =>
          val ctx = projectedCtx(df)
          val cols = keys.map(k => direction(bindScalar(ctx, k.expr), k.ascending))
          Right(ctx.df.orderBy(cols: _*).select(ctx.baseColumns.map(col): _*))
      }

    case LimitOp(base, n, skip) =>
      planFlow(base) match {
        case Left(ctx) =>
          // a deferred sort must pick the rows the limit keeps; the final
          // re-order after materialization restores presentation order
          if (ctx.pendingSort.nonEmpty) ctx.df = ctx.df.orderBy(ctx.pendingSort: _*)
          ctx.df = if (skip > 0) ctx.df.offset(skip).limit(n) else ctx.df.limit(n)
          Left(ctx)
        case Right(df) =>
          Right(if (skip > 0) df.offset(skip).limit(n) else df.limit(n))
      }

    // selection over a quotient: handled one level up via Select(Quotient…)
    case Compose(base, member) =>
      // flow-level navigation: `/nation.region` re-roots the axis on the
      // parent table (each nation's region, duplicates preserved)
      planFlow(base) match {
        case Left(ctx) =>
          // a projected scope kept navigable by define() still has no links
          // — same scope error as the Right branch, not a catalog miss
          if (ctx.isProjected)
            throw new PlanError("cannot navigate after projection")
          member match {
            case Ident(name) =>
              catalog.directLink(ctx.table, name) match {
                case Some(link) =>
                  val next = new Ctx(link.parentTable, tables(link.parentTable), Map.empty, Set.empty)
                  val cond = link.childCols.zip(link.parentCols)
                    .map { case (c, p) => ctx.df(c) === next.df(p) }.reduce(_ && _)
                  next.df = ctx.df.join(next.df, cond, "inner")
                    .select(next.baseColumns.map(col): _*)
                  Left(next)
                case None =>
                  catalog.reverseLink(ctx.table, name) match {
                    case Some(link) =>
                      // plural flow navigation: every child of every row
                      val next = new Ctx(link.childTable, tables(link.childTable), Map.empty, Set.empty)
                      val parent = ctx.df.select(link.parentCols.map(col): _*)
                      val cond = link.childCols.zip(link.parentCols)
                        .map { case (c, p) => next.df(c) === parent(p) }.reduce(_ && _)
                      next.df = next.df.join(parent, cond, "left_semi")
                      Left(next)
                    case None => throw new PlanError(s"unknown link '${ctx.table}.$name'")
                  }
              }
            case _ => throw new PlanError("unsupported flow composition")
          }
        case Right(_) => throw new PlanError("cannot navigate after projection")
      }

    case other => throw new PlanError(s"unsupported flow expression: $other")
  }

  // ------------------------------------------------------------- sieves --

  private def sieveCtx(ctx: Ctx, pred: Ast): Unit = pred match {
    // peephole: bare exists/!exists over a plural link → semi/anti join
    // (reference compiles these to correlated EXISTS; we decorrelate)
    case Apply("exists", Seq(path)) if pluralChainOf(ctx, path).nonEmpty && isBareChain(path) =>
      semiJoin(ctx, chainLabels(path), anti = false)
    case Apply("not", Seq(Apply("exists", Seq(path))))
        if pluralChainOf(ctx, path).nonEmpty && isBareChain(path) =>
      semiJoin(ctx, chainLabels(path), anti = true)
    case _ if containsFork(pred) =>
      // window expressions can't live in a WHERE clause — materialize
      // first. Bind BEFORE touching ctx.df: binding a linked/detached
      // aggregate joins its result onto ctx.df, and reading the receiver
      // first would filter the pre-join frame (unresolved column).
      val cond = bindScalar(ctx, pred)
      ctx.df = ctx.df.withColumn("__sieve", cond)
        .filter(col("__sieve")).drop("__sieve")
    case _ =>
      val cond = bindScalar(ctx, pred) // may join aggregates onto ctx.df
      ctx.df = ctx.df.filter(cond)
  }

  private def containsFork(ast: Ast): Boolean = ast match {
    case Apply("fork", _) => true
    case Apply(_, args) => args.exists(containsFork)
    case Compose(b, m) => containsFork(b) || containsFork(m)
    case Sieve(b, p) => containsFork(b) || containsFork(p)
    case _ => false
  }

  private def isBareChain(ast: Ast): Boolean = ast match {
    case Ident(_) => true
    case Compose(b, Ident(_)) => isBareChain(b)
    case _ => false
  }

  private def chainLabels(ast: Ast): Seq[String] = ast match {
    case Ident(n) => Seq(n)
    case Compose(b, Ident(n)) => chainLabels(b) :+ n
    case _ => throw new PlanError("not a navigation chain")
  }

  private def semiJoin(ctx: Ctx, labels: Seq[String], anti: Boolean): Unit = {
    val (childDf, rootKeys, _) = pluralFlow(ctx, labels)
    val link = catalog.reverseLink(ctx.table, labels.head).get
    val proj = childDf.select(rootKeys.map(col): _*)
    val cond = link.parentCols.zip(rootKeys).map { case (p, k) => ctx.df(p) === proj(k) }
      .reduce(_ && _)
    ctx.df = ctx.df.join(proj, cond, if (anti) "left_anti" else "left_semi")
  }

  // ---------------------------------------------------------- selection --

  private def itemName(e: Ast, i: Int): String = e match {
    case Ident(n) => n
    case Compose(_, Ident(n)) => n
    case Apply(fn, _) => fn
    case _ => s"col_$i"
  }

  private def selectItems(ctx: Ctx, items0: Seq[Item]): DataFrame = {
    // `*` expands to the scope table's own columns (BindWildcard)
    val items = items0.flatMap {
      case Item(Ident("*"), _, _, _) =>
        ctx.baseColumns.map(c => Item(Ident(c), None, None))
      case it => Seq(it)
    }
    val named = items.zipWithIndex.map { case (it, i) =>
      // `:as` retitles the OUTPUT column; the `:=` alias stays the scope name
      val name = it.title.orElse(it.alias).getOrElse(it.expr match {
        case Segment(flow) => segmentLabel(flow)
        case e => itemName(e, i)
      })
      (it, name)
    }
    // dedupe output names
    val seen = scala.collection.mutable.Map.empty[String, Int]
    val finalNames = named.map { case (_, n) =>
      val k = seen.getOrElse(n, 0); seen(n) = k + 1
      if (k == 0) n else s"${n}_${k + 1}"
    }
    val cols = named.zip(finalNames).map { case ((it, _), outName) =>
      (it.expr match {
        case Segment(flow) => planSegment(ctx, flow)
        case Apply("top", args) if args.nonEmpty && isFlowArg(ctx, args.head) =>
          planTop(ctx, args.head, args.lift(1))
        // aliased items bind their snapshotted body with the alias off the
        // scope — one application of the definition (see the Select branch)
        case e => bindSansAlias(ctx, e, it.alias.toSeq ++ it.title)
      }).as(outName)
    }
    // a sort deferred past the selection re-applies now that every item is
    // bound (aggregate joins are done) — project-after-order keeps the order
    val ordered =
      if (ctx.pendingSort.nonEmpty) ctx.df.orderBy(ctx.pendingSort: _*) else ctx.df
    val projected = ordered.select(cols: _*)
    val sortCols = named.zip(finalNames).collect {
      case ((Item(_, _, Some(asc), _), _), outName) => direction(col(outName), asc)
    }
    // pendingSort comes from a LATER `.sort()` in the pipeline, so it wins
    // over the selection's own direction decorators (`{x-}.sort(y)` orders
    // by y) — matching the pre-decoration behavior where the later sort
    // re-ordered the projected frame
    if (sortCols.nonEmpty && ctx.pendingSort.isEmpty) projected.orderBy(sortCols: _*)
    else projected
  }

  // ------------------------------------------------------ nested segments

  private def segmentLabel(flow: Ast): String = flow match {
    case Ident(n) => n
    case Select(b, _) => segmentLabel(b)
    case Sieve(b, _) => segmentLabel(b)
    case SortOp(b, _) => segmentLabel(b)
    case DefineOp(b, _) => segmentLabel(b)
    case LimitOp(b, _, _) => segmentLabel(b)
    case other => throw new PlanError(s"unsupported segment flow: $other")
  }

  /** Plan a nested segment `/link{…}`: the reference runs a correlated SQL
    * statement per segment and merge-stitches rows in `fetch.py` (§3 stage
    * 10); here the child flow aggregates to `array_sort(collect_list(
    * struct(...)))` per parent key and joins back — one shuffle, no N+1.
    * Rows sort by struct field order (put the child key first for a stable
    * rendering). Parents with no children get an empty list, matching the
    * reference's ListDomain output.
    */
  private def planSegment(ctx: Ctx, flow: Ast): Column = {
    // peel the op stack down to the link label
    def base(a: Ast): Ast = a match {
      case Select(b, _) => b
      case Sieve(b, _) => b
      case SortOp(b, _) => b
      case DefineOp(b, _) => b
      case LimitOp(b, _, _) => b
      case other => other
    }
    // collect op wrappers outermost-last
    var stack = List.empty[Ast]
    var cur0 = flow
    while (cur0 != base(cur0)) { stack = cur0 :: stack; cur0 = base(cur0) }
    val label = cur0 match {
      case Ident(n) => n
      case other => throw new PlanError(s"segment must start with a link: $other")
    }

    // In the ROOT scope a segment's head is a TABLE (`/{ /region{…} }` —
    // the reference's parallel-segment output shape): the whole table
    // aggregates into one array on the single root row. collect_list over
    // a full table is driver-light but memory-heavy per row — autolimit /
    // segment sieves are the guard, as with any plural segment.
    if (ctx.isProjected)
      throw new PlanError("cannot select a segment after projection — " +
        "links exist only before projection")
    val (childDf, rootKeys, childCtx) =
      if (ctx.isRoot) {
        if (!catalog.isTable(label))
          throw new PlanError(s"unknown table '$label' in root segment")
        val c = new Ctx(label, tables(label), ctx.defines, Set.empty)
        c.inherited = ctx.defines.keySet
        (c.df, Seq.empty[String], c)
      } else if (catalog.reverseLink(ctx.table, label).isEmpty) {
        throw new PlanError(s"segment '/$label' requires a plural link from " +
          s"'${ctx.table}'" + (if (catalog.directLink(ctx.table, label).isDefined)
            s" — '$label' is singular here; select its columns inline ($label.col)"
          else ""))
      } else pluralFlow(ctx, Seq(label))
    childCtx.df = childDf
    var outItems: Option[Seq[Item]] = None
    var sortKeys = Seq.empty[SortKey]
    var segLimit: Option[(Int, Int)] = None
    stack.foreach {
      case Sieve(_, pred) => sieveCtx(childCtx, pred)
      case DefineOp(_, defs) =>
        // segment-local definitions are LOCAL: clear the inherited mark so
        // they win over same-named child columns like every other define
        childCtx.defines ++= defs
        childCtx.inherited --= defs.map(_._1)
      case SortOp(_, keys) => sortKeys = keys
      case LimitOp(_, n, skip) => segLimit = Some((n, skip))
      case Select(_, items) => outItems = Some(items)
      case _ =>
    }
    val items = outItems.getOrElse(
      childCtx.baseColumns.map(c => Item(Ident(c), None, None))).flatMap {
        case Item(Ident("*"), _, _, _) => // wildcard expands inside segments too
          childCtx.baseColumns.map(c => Item(Ident(c), None, None))
        case it => Seq(it)
      }
    val structCols = items.zipWithIndex.map { case (it, i) =>
      val name = it.title.orElse(it.alias).getOrElse(it.expr match {
        case Segment(f) => segmentLabel(f)
        case e => itemName(e, i)
      })
      (it.expr match {
        case Segment(f) => planSegment(childCtx, f) // recursive nesting
        case e => bindScalar(childCtx, e)
      }).as(name)
    }
    val aggName = s"__seg_${aggCounter}"; aggCounter += 1
    val aggDf = if (sortKeys.isEmpty && segLimit.isEmpty) {
      // no explicit sort: rows order by struct field order (child key first)
      childCtx.df
        .groupBy(rootKeys.map(col): _*)
        .agg(array_sort(collect_list(struct(structCols: _*))).as(aggName))
    } else {
      // explicit `.sort(keys)` / `.limit(n[,skip])`: rank rows per parent
      // (PK tie-break for determinism), apply the limit window on the
      // rank, collect with the rank leading the struct, then strip it —
      // same technique as planTop, so array order == requested order. The
      // limit BOUNDS per-parent collect_list memory — the guard for
      // skewed links called out in README "Skew & memory".
      val pk = catalog.primaryKey(childCtx.table).filter(childCtx.baseColumns.contains)
      val order = sortKeys.map(sk => direction(bindScalar(childCtx, sk.expr), sk.ascending)) ++
        pk.map(col)
      val fields = structCols.zipWithIndex.map { case (c, i) => c.as(s"__f$i") }
      val names = items.zipWithIndex.map { case (it, i) =>
        it.title.orElse(it.alias).getOrElse(it.expr match {
          case Segment(f) => segmentLabel(f)
          case e => itemName(e, i)
        })
      }
      val ranked =
        if (rootKeys.isEmpty) {
          // a root segment is ONE group: rank one sorted partition instead
          // of a window with no partition key (which warns on every call).
          // A limit runs as one sorted partition (TakeOrderedAndProject);
          // without one the rows sort in a single partition, as the window
          // did. Either way `monotonically_increasing_id` counts the rows
          // in rank order.
          val sorted = segLimit match {
            case Some((n, skip)) => childCtx.df.orderBy(order: _*).limit(skip + n)
            case None => childCtx.df.repartition(1).sortWithinPartitions(order: _*)
          }
          val rn = sorted.withColumn("__rn", monotonically_increasing_id() + 1L)
          segLimit.fold(rn) { case (_, skip) => rn.filter(col("__rn") > skip) }
        } else {
          val w = Window.partitionBy(rootKeys.map(col): _*).orderBy(order: _*)
          val ranked0 = childCtx.df.withColumn("__rn", row_number().over(w))
          segLimit match {
            case Some((n, skip)) =>
              ranked0.filter(col("__rn") > skip && col("__rn") <= skip + n)
            case None => ranked0
          }
        }
      ranked
        .groupBy(rootKeys.map(col): _*)
        .agg(sort_array(collect_list(struct((col("__rn") +: fields): _*))).as("__raw"))
        .withColumn(aggName, expr(s"transform(__raw, r -> struct(" +
          names.zipWithIndex.map { case (n, i) => s"r.__f$i AS `$n`" }.mkString(", ") + "))"))
        .select((rootKeys.map(col) :+ col(aggName)): _*)
    }

    val elemType = aggDf.schema(aggName).dataType
    if (rootKeys.isEmpty) {
      // root segment: one aggregated row, broadcast onto the root axis
      ctx.df = ctx.df.crossJoin(broadcast(aggDf))
    } else {
      val link = catalog.reverseLink(ctx.table, label).get
      val cond = link.parentCols.zip(rootKeys)
        .map { case (p, k) => ctx.df(p) === aggDf(k) }.reduce(_ && _)
      ctx.df = rootKeys.foldLeft(ctx.df.join(aggDf, cond, "left"))(_ drop _)
    }
    coalesce(col(aggName), array().cast(elemType))
  }

  private def isFlowArg(ctx: Ctx, ast: Ast): Boolean = {
    def head(a: Ast): Option[String] = a match {
      case Ident(n) => Some(n)
      case Select(b, _) => head(b)
      case Sieve(b, _) => head(b)
      case SortOp(b, _) => head(b)
      case Compose(b, _) => head(b)
      case _ => None
    }
    head(ast).exists(n => catalog.reverseLink(ctx.table, n).isDefined)
  }

  /** `top(flow[, k])` — first k rows of an ordered plural flow per scope
    * row (reference: BindTop in src/htsql/core/tr/fn/bind.py; the per-group
    * top-k the Oracle dialect emulates with ROW_NUMBER). Planned as a
    * window rank inside the child flow + the same collect-back as a nested
    * segment; rows keep the requested sort order.
    */
  private def planTop(ctx: Ctx, flow: Ast, kAst: Option[Ast]): Column = {
    val k = kAst match {
      case Some(NumberLit(v)) if !v.contains('.') => v.toInt
      case None => 1
      case _ => throw new PlanError("top() requires an integer literal count")
    }
    // decompose: label [.sieve] [.sort(keys)] — selection inside top() not
    // supported (navigate afterwards or use a segment)
    var sortKeys = Seq.empty[SortKey]
    var sievePred: Option[Ast] = None
    def base(a: Ast): Ast = a match {
      case SortOp(b, keys) => sortKeys = keys; b
      case Sieve(b, p) => sievePred = Some(p); b
      case other => other
    }
    var cur0 = flow
    var prev: Ast = null
    while (prev != cur0) { prev = cur0; cur0 = base(cur0) }
    val label = cur0 match {
      case Ident(n) => n
      case other => throw new PlanError(s"top() expects a plural link flow, got: $other")
    }
    val (childDf, rootKeys, childCtx) = pluralFlow(ctx, Seq(label))
    childCtx.df = childDf
    sievePred.foreach { p =>
      val cond = bindScalar(childCtx, p) // bind first: may join onto childCtx.df
      childCtx.df = childCtx.df.filter(cond)
    }
    val pk = catalog.primaryKey(childCtx.table).filter(childCtx.baseColumns.contains)
    val order = (sortKeys.map(sk => direction(bindScalar(childCtx, sk.expr), sk.ascending))
      ++ pk.map(col)) // PK tie-break → deterministic
    val w = Window.partitionBy(rootKeys.map(col): _*).orderBy(order: _*)
    childCtx.df = childCtx.df
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
    val structCols = (childCtx.baseColumns :+ "__rn").map(col)
    val aggName = s"__top_${aggCounter}"; aggCounter += 1
    // sort_array on (__rn-first) struct keeps the requested rank order
    val aggDf = childCtx.df
      .groupBy(rootKeys.map(col): _*)
      .agg(sort_array(collect_list(struct((col("__rn") +: childCtx.baseColumns.map(col)): _*)))
        .as("__raw"))
      .withColumn(aggName, expr(s"transform(__raw, r -> struct(${childCtx.baseColumns.map(c => s"r.$c AS $c").mkString(", ")}))"))
      .select((rootKeys.map(col) :+ col(aggName)): _*)
    val link = catalog.reverseLink(ctx.table, label).get
    val cond = link.parentCols.zip(rootKeys)
      .map { case (p, kk) => ctx.df(p) === aggDf(kk) }.reduce(_ && _)
    val elemType = aggDf.schema(aggName).dataType
    ctx.df = rootKeys.foldLeft(ctx.df.join(aggDf, cond, "left"))(_ drop _)
    coalesce(col(aggName), array().cast(elemType))
  }

  // ----------------------------------------------------------- quotient --

  /** Bare quotient `base ^ kernel` (= distinct kernel values). */
  private def quotientDistinct(ctx: Ctx, kernels: Seq[Ast]): DataFrame = {
    val cols = kernels.zipWithIndex.map { case (k, i) =>
      bindScalar(ctx, k).as(itemName(k, i))
    }
    ctx.df.select(cols: _*).distinct()
  }

  /** `(base ^ kernel){items}` — quotient with complement access: the group
    * IS the row (ProjectionTerm); complement aggregates become ordinary
    * aggregate expressions in the same groupBy.
    */
  private def quotientSelect(ctx: Ctx, kernels: Seq[Ast], items: Seq[Item]): DataFrame = {
    val kernelNamed = kernels.zipWithIndex.map { case (k, i) =>
      itemName(k, i) -> bindScalar(ctx, k)
    }
    val kernelNames = kernelNamed.map(_._1)
    // structural match: a selection item that IS a kernel expression (e.g.
    // `year(o_orderdate)` for kernel `^year(o_orderdate)`) refers to the
    // grouped column, not a fresh binding
    val kernelByAst: Map[Ast, String] =
      kernels.zipWithIndex.map { case (k, i) => (k: Ast) -> itemName(k, i) }.toMap

    var aggExprs = Vector.empty[Column]
    def freshAgg(c: Column): String = {
      val n = s"__agg_${aggCounter}"; aggCounter += 1
      aggExprs :+= c.as(n); n
    }

    // Rewrite an item expression against the GROUPED frame: kernel
    // subexpressions become their grouped column names, aggregate
    // subexpressions (complement or detached/linked) become fresh agg
    // output columns — so arbitrary arithmetic OVER aggregates
    // (`count(^)/count(@orders)`) binds after the groupBy.
    def rewrite(e: Ast): Ast = e match {
      case x if kernelByAst.contains(x) => Ident(kernelByAst(x))
      case x if isKernelRef(x, kernelNames) => Ident(x match {
        case Ident(n) => n
        case Compose(_, Ident(n)) => n
        case _ => itemName(x, 0)
      })
      case Apply(fn, args) if aggNames(fn) && args.exists(containsComplement) =>
        val inner = args.headOption.map(stripComplement).getOrElse(Complement())
        // sieved complements (`count(^?p)`, `sum(^?p.x)`) become
        // CONDITIONAL aggregation — the whole frame can't be filtered for
        // one item, so non-matching rows contribute NULL, which every
        // aggregate ignores; quantifiers coalesce their empty default.
        val (valueCol, valueType) = inner match {
          case Complement() => (lit(1L), None)
          case Sieve(Complement(), pred) =>
            val bare: Column = fn match {
              case "exists" | "any" | "every" => lit(true)
              case _ => lit(1L)
            }
            (when(bindScalar(ctx, pred), bare), None)
          case Compose(Sieve(Complement(), pred), rest) =>
            val c = bindScalar(ctx, rest)
            (when(bindScalar(ctx, pred), c), Some(dataTypeOf(ctx, c)))
          case other =>
            val c = bindScalar(ctx, other)
            (c, Some(dataTypeOf(ctx, c)))
        }
        val aggExpr = aggregateFn(fn, valueCol, valueType)
        Ident(freshAgg(emptyDefault(fn)
          .map(d => coalesce(aggExpr, d)).getOrElse(aggExpr)))
      case Apply(fn, args) if aggNames(fn) =>
        // detached (@) or linked aggregate: bind on the pre-group frame —
        // this may join a per-row-constant column onto ctx.df — and carry
        // it through the groupBy with min() (constant within every group)
        val c = bindScalar(ctx, Apply(fn, args))
        Ident(freshAgg(min(c)))
      case Apply(fn, args) => Apply(fn, args.map(rewrite))
      case other => other
    }

    val outSpecs = items.zipWithIndex.map { case (it, i) =>
      val name = it.title.orElse(it.alias).getOrElse(itemName(it.expr, i))
      it.expr match {
        // plain kernel-derived scalar with no aggregates keeps the legacy
        // pre-group binding (covers scalar fns of kernel columns)
        case other if !containsAggregate(other) && !kernelByAst.contains(other) &&
          !isKernelRef(other, kernelNames) =>
          name -> Left(bindScalar(ctx, other))
        case other =>
          name -> Right(rewrite(other))
      }
    }
    if (aggExprs.isEmpty) freshAgg(count(lit(1)))
    // groupBy is built AFTER every bind: binding a detached aggregate
    // joins its broadcast result onto ctx.df first
    val grouped = ctx.df.groupBy(kernelNamed.map { case (n, c) => c.as(n) }: _*)
    val agg = grouped.agg(aggExprs.head, aggExprs.tail: _*)
    // output expressions bind over the GROUPED frame with the full scalar
    // surface (projected scope) — `round(sum(^.x)/count(^), 2)` etc.
    val binder = projectedCtx(agg)
    val bound = outSpecs.map {
      case (n, Left(c)) => c.as(n)
      case (n, Right(e)) => bindScalar(binder, e).as(n)
    }
    binder.df.select(bound: _*)
  }

  private def containsAggregate(ast: Ast): Boolean = ast match {
    case Apply(fn, _) if aggNames(fn) => true
    case Apply(_, args) => args.exists(containsAggregate)
    case Compose(b, m) => containsAggregate(b) || containsAggregate(m)
    case Sieve(b, p) => containsAggregate(b) || containsAggregate(p)
    case _ => false
  }

  private def isKernelRef(e: Ast, kernelNames: Seq[String]): Boolean = e match {
    case Ident(n) => kernelNames.contains(n)
    case Compose(_, Ident(n)) => kernelNames.contains(n)
    case _ => false
  }

  private def containsComplement(ast: Ast): Boolean = ast match {
    case Complement() => true
    case Compose(b, m) => containsComplement(b) || containsComplement(m)
    case Apply(_, args) => args.exists(containsComplement)
    case Sieve(b, p) => containsComplement(b) || containsComplement(p)
    case _ => false
  }

  /** Rewrite complement references for binding in the pre-group scope:
    * `^` alone stays (the caller counts rows), `^.col` becomes `col`, and
    * the rewrite recurses through expressions so predicates like
    * `exists(^.price > k)` bind their column references correctly.
    */
  private def stripComplement(ast: Ast): Ast = ast match {
    case c @ Complement() => c
    case Compose(Complement(), rest) => rest
    case Apply(f, args) => Apply(f, args.map(stripComplement))
    case Compose(b, m) => Compose(stripComplement(b), m)
    case Sieve(b, p) => Sieve(stripComplement(b), stripComplement(p))
    case other => other
  }

  // ------------------------------------------------- scalar expressions --

  private def bindScalar(ctx: Ctx, ast: Ast): Column =
    reposition(ast)(bindScalarImpl(ctx, ast))

  /** Bind a selection item's (snapshotted) body with its own alias removed
    * from the scope: the definition was already applied by the Select-time
    * chaining, so a free occurrence of the name inside the body must reach
    * the underlying column / older scope, never re-enter the definition.
    */
  private def bindSansAlias(ctx: Ctx, e: Ast, names: Seq[String]): Column = {
    val shadowed = names.filter(ctx.defines.contains)
    if (shadowed.isEmpty) bindScalar(ctx, e)
    else {
      val saved = ctx.defines
      ctx.defines --= shadowed
      try bindScalar(ctx, e) finally ctx.defines = saved
    }
  }

  private def bindScalarImpl(ctx: Ctx, ast: Ast): Column = ast match {
    case NumberLit(v) =>
      if (v.contains('.') || v.contains('e') || v.contains('E')) lit(v.toDouble) else lit(v.toLong)
    case StringLit(v) => lit(v)
    case Ident(name) => resolveName(ctx, name)
    case Ref(name) =>
      ctx.defines.get(name) match {
        case Some(d) =>
          // same self-removal as resolveName: `$x` inside x's own body
          // cannot re-enter the definition
          val saved = ctx.defines
          ctx.defines -= name
          try bindScalar(ctx, d) finally ctx.defines = saved
        case None => throw new PlanError(s"unknown reference $$$name")
      }
    case Compose(_, _) => resolvePath(ctx, chainLabels(ast))
    case Apply(fn, args) => applyFn(ctx, fn, args)
    case Complement() => throw new PlanError("'^' is only valid inside a quotient selection")
    case other => throw new PlanError(s"unsupported scalar expression: $other")
  }

  private def resolveName(ctx: Ctx, name: String): Column =
    // defines FIRST: the most recent definition wins over a same-named
    // column (reference lookup order — `define(a := b+1)` after a
    // projection of `a` must not be silently shadowed by the column).
    // EXCEPT names merely inherited from an enclosing scope: the inner
    // scope's own columns beat those (reference: inner lookup first), so a
    // parent selection alias can't capture a child-table column inside an
    // aggregate or segment.
    // The body binds with its own name OFF the scope: `define(x := x+1)`
    // reads the underlying column, and definition cycles terminate in an
    // unknown-name error instead of recursing.
    ctx.defines.get(name) match {
      case Some(_) if ctx.inherited(name) && ctx.baseColumns.contains(name) =>
        col(name)
      case Some(d) =>
        val saved = ctx.defines
        ctx.defines -= name
        try bindScalar(ctx, d) finally ctx.defines = saved
      case None if ctx.baseColumns.contains(name) => col(name)
      case None if ctx.isProjected =>
        throw new PlanError(s"unknown column '$name' in projected flow " +
          s"(columns: ${ctx.baseColumns.mkString(", ")})")
      case None =>
        catalog.directLink(ctx.table, name) match {
          // a singular link used as a VALUE is the target's identity
          // (reference: links render as the parent's locator) — the FK
          // columns ARE that identity, so no join is needed
          case Some(link) => identityCol(link.childCols)
          case None =>
            if (catalog.reverseLink(ctx.table, name).isDefined)
              throw new PlanError(s"plural link '$name' used as a value; " +
                "aggregate it or select it as a segment (/" + name + "{…})")
            else throw new PlanError(s"unknown attribute '${ctx.table}.$name'")
        }
    }

  /** Identity rendering: single-column keys stay their native type (so
    * `[7]`-style locator values compare naturally); composite keys render
    * as the dotted string the locator syntax parses.
    */
  private def identityCol(cols: Seq[String]): Column =
    if (cols.length == 1) col(cols.head)
    else concat_ws(".", cols.map(c => col(c).cast(StringType)): _*)

  /** Resolve `a.b.c` where the prefix is a chain of singular links and the
    * last element is a column of the final parent. Joined parents get their
    * columns prefixed with the chain path, so the same table reached via
    * two different chains never collides.
    */
  private def resolvePath(ctx: Ctx, labels: Seq[String]): Column = {
    if (labels.length == 1) return resolveName(ctx, labels.head)
    if (ctx.isProjected)
      throw new PlanError(s"cannot navigate '${labels.mkString(".")}' in a " +
        "projected flow — links exist only before projection")
    val chain = labels.dropRight(1)
    val colName = labels.last
    var curTable = ctx.table
    var prefix = ""
    // `__order__customer__` style prefixes ('.' would read as struct access)
    def mangle(p: String, c: String) = s"__${p}__$c"
    chain.foreach { label =>
      val link = catalog.directLink(curTable, label).getOrElse {
        if (catalog.reverseLink(curTable, label).isDefined)
          throw new PlanError(s"plural link '$curTable.$label' outside an aggregate")
        throw new PlanError(s"unknown link '$curTable.$label'")
      }
      val newPrefix = if (prefix.isEmpty) label else s"${prefix}__$label"
      if (!ctx.joined.contains(newPrefix)) {
        val parent = tables(link.parentTable)
        val renamed = parent.columns.foldLeft(parent) { (d, c) =>
          d.withColumnRenamed(c, mangle(newPrefix, c))
        }
        val fkCols = link.childCols.map(c => if (prefix.isEmpty) c else mangle(prefix, c))
        val cond = fkCols.zip(link.parentCols)
          .map { case (f, p) => col(f) === col(mangle(newPrefix, p)) }.reduce(_ && _)
        val joinType = if (link.nullable) "left" else "inner"
        ctx.df = ctx.df.join(renamed, cond, joinType)
        ctx.joined += newPrefix
      }
      prefix = newPrefix
      curTable = link.parentTable
    }
    val schema = tables(curTable).columns
    if (!schema.contains(colName))
      throw new PlanError(s"unknown attribute '$curTable.$colName'")
    col(mangle(prefix, colName))
  }

  // ----------------------------------------------- functions & operators --

  private val aggNames = Set("count", "sum", "avg", "min", "max", "exists", "every", "any")

  private def applyFn(ctx: Ctx, fn: String, args: Seq[Ast]): Column = fn match {
    case _ if aggNames(fn) => bindAggregate(ctx, fn, args)
    // given(expr, name := e, …): scoped let — the definitions extend the
    // scope for binding `expr` ONLY (reference: BindGiven — same machinery
    // as define() but with expression-local extent). `where` is the
    // reference's alias for the same binding.
    case "given" | "where" =>
      if (args.isEmpty) throw new PlanError("given() needs an expression")
      val defs = args.tail.map {
        case Apply("__def", Seq(StringLit(n), e)) => n -> e
        case other => throw new PlanError(
          s"given() arguments after the first must be `name := expr`, got: $other")
      }
      val saved = ctx.defines
      val savedInherited = ctx.inherited
      ctx.defines ++= defs
      ctx.inherited --= defs.map(_._1)
      try bindScalar(ctx, args.head)
      finally { ctx.defines = saved; ctx.inherited = savedInherited }
    case "__def" =>
      throw new PlanError("`name := expr` is only valid as a given() argument")
    case "@" =>
      throw new PlanError("'@' detaches a flow from the current scope and is " +
        "only valid inside an aggregate, e.g. count(@table)")
    case "and" => bindScalar(ctx, args(0)) && bindScalar(ctx, args(1))
    case "or" => bindScalar(ctx, args(0)) || bindScalar(ctx, args(1))
    case "not" => !bindScalar(ctx, args.head)
    case "neg" => -bindScalar(ctx, args.head)
    // `x = (a, b, c)` is membership, `x != (a, b, c)` is exclusion
    // (reference: IsInSig — the = operator against a parenthesized list)
    case "=" => args(1) match {
      case Apply("__list", items) =>
        items.foreach(checkEnumLiteral(ctx, args(0), _))
        bindScalar(ctx, args(0)).isin(items.map(bindScalar(ctx, _)): _*)
      case _ =>
        checkEnumComparison(ctx, args(0), args(1))
        bindScalar(ctx, args(0)) === bindScalar(ctx, args(1))
    }
    case "!=" => args(1) match {
      case Apply("__list", items) =>
        items.foreach(checkEnumLiteral(ctx, args(0), _))
        !bindScalar(ctx, args(0)).isin(items.map(bindScalar(ctx, _)): _*)
      case _ =>
        checkEnumComparison(ctx, args(0), args(1))
        bindScalar(ctx, args(0)) =!= bindScalar(ctx, args(1))
    }
    case "__list" =>
      throw new PlanError("a value list is only valid on the right of = or !=")
    case "==" =>
      checkEnumComparison(ctx, args(0), args(1))
      bindScalar(ctx, args(0)) <=> bindScalar(ctx, args(1))
    case "!==" =>
      checkEnumComparison(ctx, args(0), args(1))
      !(bindScalar(ctx, args(0)) <=> bindScalar(ctx, args(1)))
    case "<" => bindScalar(ctx, args(0)) < bindScalar(ctx, args(1))
    case "<=" => bindScalar(ctx, args(0)) <= bindScalar(ctx, args(1))
    case ">" => bindScalar(ctx, args(0)) > bindScalar(ctx, args(1))
    case ">=" => bindScalar(ctx, args(0)) >= bindScalar(ctx, args(1))
    case "~" => Ht.containsCI(bindScalar(ctx, args(0)), bindScalar(ctx, args(1)))
    case "!~" => Ht.notContainsCI(bindScalar(ctx, args(0)), bindScalar(ctx, args(1)))
    case "+" => plus(ctx, args(0), args(1))
    case "-" => minus(ctx, args(0), args(1))
    case "*" => bindScalar(ctx, args(0)) * bindScalar(ctx, args(1))
    case "/" => divide(ctx, args(0), args(1))

    case "length" => length(bindScalar(ctx, args.head))
    case "upper" => upper(bindScalar(ctx, args.head))
    case "lower" => lower(bindScalar(ctx, args.head))
    case "trim" => trim(bindScalar(ctx, args.head))
    case "ltrim" => ltrim(bindScalar(ctx, args.head))
    case "rtrim" => rtrim(bindScalar(ctx, args.head))
    case "replace" =>
      replace(bindScalar(ctx, args(0)), bindScalar(ctx, args(1)), bindScalar(ctx, args(2)))
    case "head" =>
      if (args.length == 1) Ht.head(bindScalar(ctx, args.head))
      else Ht.head(bindScalar(ctx, args(0)), bindScalar(ctx, args(1)))
    case "tail" =>
      if (args.length == 1) Ht.tail(bindScalar(ctx, args.head))
      else Ht.tail(bindScalar(ctx, args(0)), bindScalar(ctx, args(1)))
    case "slice" =>
      Ht.slice(bindScalar(ctx, args(0)), bindScalar(ctx, args(1)), bindScalar(ctx, args(2)))
    case "contains" => Ht.containsCI(bindScalar(ctx, args(0)), bindScalar(ctx, args(1)))

    case "round" =>
      if (args.length == 1) round(bindScalar(ctx, args.head))
      else round(bindScalar(ctx, args(0)), intArg(args(1), "round"))
    case "trunc" =>
      if (args.length == 1) bindScalar(ctx, args.head).cast(LongType)
      else {
        val n = intArg(args(1), "trunc")
        val f = math.pow(10, n)
        val c = bindScalar(ctx, args(0))
        (c * f).cast(LongType) / lit(f)
      }
    case "abs" => abs(bindScalar(ctx, args.head))
    case "sqrt" => sqrt(bindScalar(ctx, args.head))

    case "is_null" => bindScalar(ctx, args.head).isNull
    case "if_null" => coalesce(bindScalar(ctx, args(0)), bindScalar(ctx, args(1)))
    case "null_if" => nullif(bindScalar(ctx, args(0)), bindScalar(ctx, args(1)))
    case "null" => lit(null)
    case "if" =>
      val bound = args.map(bindScalar(ctx, _))
      val pairs = bound.grouped(2).toSeq
      val branches = pairs.filter(_.length == 2).map(p => (p(0), p(1)))
      val orElse = pairs.lastOption.filter(_.length == 1).map(_.head)
      Ht.htIf(branches, orElse)
    case "switch" =>
      val x = bindScalar(ctx, args.head)
      val rest = args.tail.map(bindScalar(ctx, _))
      val pairs = rest.grouped(2).toSeq
      val cases = pairs.filter(_.length == 2).map(p => (p(0), p(1)))
      val orElse = pairs.lastOption.filter(_.length == 1).map(_.head)
      Ht.htSwitch(x, cases, orElse)

    case "today" => current_date()
    case "now" => current_timestamp()
    case "year" => year(bindScalar(ctx, args.head))
    case "month" => month(bindScalar(ctx, args.head))
    case "day" => dayofmonth(bindScalar(ctx, args.head))
    case "hour" => timePart(ctx, args.head, hour)
    case "minute" => timePart(ctx, args.head, minute)
    case "second" => timePart(ctx, args.head, second)

    // time(): TimeDomain (upstream `src/htsql/core/domain.py (TimeDomain)`)
    // as normalized 'HH:mm:ss' text — Spark 4.1's native TIME type is still
    // feature-flagged and only partially wired through functions/sinks, and
    // a text time round-trips every renderer and the parquet/DuckDB oracle.
    // Invalid time strings become NULL, matching the other cast functions
    // under non-ANSI literal coercion.
    case "time" =>
      val c = bindScalar(ctx, args.head)
      dataTypeOf(ctx, c) match {
        case TimestampType | DateType =>
          date_format(c.cast(TimestampType), "HH:mm:ss")
        case _ =>
          date_format(try_to_timestamp(
            concat(lit("1970-01-01 "), c.cast(StringType)),
            lit("yyyy-MM-dd HH:mm:ss")), "HH:mm:ss")
      }

    // id(): the current row's identity — its primary key, single columns
    // native-typed, composites dotted (reference: id() over IdentityDomain)
    case "id" if args.isEmpty =>
      if (ctx.isRoot || ctx.isProjected) throw new PlanError("id() needs a table scope")
      identityCol(catalog.primaryKey(ctx.table))

    case "text" => bindScalar(ctx, args.head).cast(StringType)
    case "integer" => bindScalar(ctx, args.head).cast(LongType)
    case "float" => bindScalar(ctx, args.head).cast(DoubleType)
    case "decimal" => bindScalar(ctx, args.head).cast(DecimalType(38, 18))
    case "boolean" => bindScalar(ctx, args.head).cast(BooleanType)
    case "date" =>
      if (args.length == 3)
        make_date(bindScalar(ctx, args(0)), bindScalar(ctx, args(1)), bindScalar(ctx, args(2)))
      else to_date(bindScalar(ctx, args.head))
    case "datetime" => to_timestamp(bindScalar(ctx, args.head))

    case "top" =>
      throw new PlanError("top() takes a plural link flow and is only valid " +
        "as a selection item, e.g. {c_custkey, top(orders.sort(o_totalprice-), 2)}")
    case other => throw new PlanError(s"unknown function '$other'")
  }

  /** hour/minute/second over DateTime columns directly; over TEXT they also
    * accept TimeDomain values ('HH:mm:ss') by trying a time-of-day parse
    * when the plain timestamp parse yields NULL — one codegen'd coalesce,
    * no UDF.
    */
  private def timePart(ctx: Ctx, a: Ast, f: Column => Column): Column = {
    val c = bindScalar(ctx, a)
    dataTypeOf(ctx, c) match {
      case StringType =>
        coalesce(f(try_to_timestamp(c)),
          f(try_to_timestamp(concat(lit("1970-01-01 "), c),
            lit("yyyy-MM-dd HH:mm:ss"))))
      case _ => f(c)
    }
  }

  /** Resolve the (table, column) a comparison side refers to WITHOUT
    * binding — pure catalog metadata walk along singular links; None when
    * the side is not a plain column reference in a table scope.
    */
  private def columnTarget(ctx: Ctx, ast: Ast): Option[(String, String)] = {
    if (ctx.isRoot || ctx.isProjected) return None
    ast match {
      // skip only when a define actually WINS lookup; an INHERITED name
      // that loses to this scope's own column still reads the column, so
      // the enum check must still apply there
      case Ident(n) if !ctx.defines.contains(n) ||
          (ctx.inherited(n) && ctx.baseColumns.contains(n)) =>
        Some((ctx.table, n))
      case Compose(_, _) =>
        try {
          val ls = chainLabels(ast)
          var cur = ctx.table
          var ok = true
          ls.dropRight(1).foreach { l =>
            catalog.directLink(cur, l) match {
              case Some(link) => cur = link.parentTable
              case None => ok = false
            }
          }
          if (ok) Some((cur, ls.last)) else None
        } catch { case _: PlanError => None }
      case _ => None
    }
  }

  /** Bind-time enum-label validation (reference: EnumDomain literal
    * coercion): comparing a declared enum column against a string literal
    * that is not one of its labels is an error, not a silently-empty
    * filter. Checked in both operand orders and for IN-lists.
    */
  private def checkEnumLiteral(ctx: Ctx, colSide: Ast, litSide: Ast): Unit =
    (columnTarget(ctx, colSide), litSide) match {
      case (Some((table, column)), StringLit(v)) =>
        catalog.enumLabels(table, column).foreach { labels =>
          if (!labels.contains(v))
            throw new PlanError(s"'$v' is not a label of enum $table.$column " +
              s"(labels: ${labels.mkString(", ")})")
        }
      case _ => ()
    }

  private def checkEnumComparison(ctx: Ctx, l: Ast, r: Ast): Unit = {
    checkEnumLiteral(ctx, l, r)
    checkEnumLiteral(ctx, r, l)
  }

  private def intArg(ast: Ast, fn: String): Int = ast match {
    case NumberLit(v) if !v.contains('.') => v.toInt
    case _ => throw new PlanError(s"$fn() requires an integer literal")
  }

  private def dataTypeOf(ctx: Ctx, c: Column): DataType =
    ctx.df.select(c).schema.head.dataType

  private def plus(ctx: Ctx, l: Ast, r: Ast): Column = {
    val (lc, rc) = (bindScalar(ctx, l), bindScalar(ctx, r))
    (dataTypeOf(ctx, lc), dataTypeOf(ctx, rc)) match {
      case (StringType, _) | (_, StringType) => Ht.concat(lc, rc)
      case (DateType, _) => date_add(lc, rc.cast(IntegerType))
      case (TimestampType, _) => date_add(lc.cast(DateType), rc.cast(IntegerType))
      case _ => lc + rc
    }
  }

  private def minus(ctx: Ctx, l: Ast, r: Ast): Column = {
    val (lc, rc) = (bindScalar(ctx, l), bindScalar(ctx, r))
    (dataTypeOf(ctx, lc), dataTypeOf(ctx, rc)) match {
      case (DateType, DateType) | (TimestampType, TimestampType) |
           (DateType, TimestampType) | (TimestampType, DateType) =>
        datediff(lc.cast(DateType), rc.cast(DateType))
      case (DateType, _) => date_sub(lc, rc.cast(IntegerType))
      case (TimestampType, _) => date_sub(lc.cast(DateType), rc.cast(IntegerType))
      case _ => lc - rc
    }
  }

  /** HTSQL `/`: int ÷ int is exact, never truncating (coerce.py trap). */
  private def divide(ctx: Ctx, l: Ast, r: Ast): Column = {
    val (lc, rc) = (bindScalar(ctx, l), bindScalar(ctx, r))
    def integral(t: DataType) = t match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    (dataTypeOf(ctx, lc), dataTypeOf(ctx, rc)) match {
      case (a, b) if integral(a) && integral(b) => Ht.div(lc, rc)
      case _ => lc / rc
    }
  }

  // ----------------------------------------------------- linked aggregates

  /** Find the maximal reverse-link chain prefix used anywhere inside the
    * aggregate argument — the axis the aggregate groups over.
    */
  private def pluralChainOf(ctx: Ctx, ast: Ast): Seq[String] = {
    def heads(a: Ast): Seq[Seq[String]] = a match {
      case Ident(n) if catalog.reverseLink(ctx.table, n).isDefined => Seq(Seq(n))
      case Compose(b, _) =>
        val direct =
          try {
            val ls = chainLabels(a)
            if (catalog.reverseLink(ctx.table, ls.head).isDefined) {
              // extend with consecutive reverse links
              var cur = catalog.reverseLink(ctx.table, ls.head).get.childTable
              var chain = Seq(ls.head)
              var i = 1
              var continue = true
              while (continue && i < ls.length) {
                catalog.reverseLink(cur, ls(i)) match {
                  case Some(l) => chain :+= ls(i); cur = l.childTable; i += 1
                  case None => continue = false
                }
              }
              Seq(chain)
            } else Seq.empty
          } catch { case _: PlanError => Seq.empty }
        // not a pure label chain (e.g. `(orders?pred).o_totalprice` — a
        // parenthesized sieve in the spine): the plural head is inside the
        // compose base
        if (direct.nonEmpty) direct else heads(b)
      case Apply(_, args) => args.flatMap(heads)
      case Sieve(b, _) => heads(b)
      case SortOp(b, _) => heads(b)
      case _ => Seq.empty
    }
    heads(ast).sortBy(-_.length).headOption.getOrElse(Seq.empty)
  }

  /** Build the plural child flow for a reverse-link chain: returns
    * (child DataFrame carrying the root FK columns, those FK column names,
    * child Ctx for binding the aggregated value).
    */
  private def pluralFlow(ctx: Ctx, chain: Seq[String]): (DataFrame, Seq[String], Ctx) =
    pluralFlowSieved(ctx, chain.map((_, Seq.empty[Ast])))

  /** [[pluralFlow]] with per-hop sieves: each hop's predicates bind in
    * THAT hop's scope and filter its flow before the next hop composes —
    * `(nation?p).customer` keeps exactly the customers of p-nations
    * (filtering before or after the inner join is equivalent; binding
    * before the hop's carry-projection is what lets `p` see the hop
    * table's own columns, which the carry drops).
    */
  private def pluralFlowSieved(ctx: Ctx,
      steps: Seq[(String, Seq[Ast])]): (DataFrame, Seq[String], Ctx) = {
    val (head, headSieves) = steps.head
    val first = catalog.reverseLink(ctx.table, head).getOrElse(
      throw new PlanError(s"'${ctx.table}.$head' is not a plural link"))
    var childCtx = new Ctx(first.childTable, tables(first.childTable), ctx.defines, Set.empty)
    childCtx.inherited = ctx.defines.keySet
    headSieves.foreach { p =>
      val cond = bindScalar(childCtx, p) // may join onto childCtx.df
      childCtx.df = childCtx.df.filter(cond)
    }
    val rootKeys = first.childCols
    steps.tail.foreach { case (label, sieves) =>
      val link = catalog.reverseLink(childCtx.table, label).getOrElse(
        throw new PlanError(s"unknown plural link '${childCtx.table}.$label'"))
      // carry the root FK columns through each hop so the final child frame
      // can be grouped straight back to the original axis
      val prev = childCtx.df.select((rootKeys ++ link.parentCols).distinct.map(col): _*)
      val next = new Ctx(link.childTable, tables(link.childTable), ctx.defines, Set.empty)
      next.inherited = ctx.defines.keySet
      val cond = link.childCols.zip(link.parentCols)
        .map { case (c, p) => next.df(c) === prev(p) }.reduce(_ && _)
      next.df = next.df.join(prev, cond, "inner")
      sieves.foreach { p =>
        val c = bindScalar(next, p)
        next.df = next.df.filter(c)
      }
      childCtx = next
    }
    (childCtx.df, rootKeys, childCtx)
  }

  /** Parse a compose/sieve spine into its label sequence plus the sieve
    * predicates keyed by the label depth they apply AFTER:
    * `(nation?p).customer.c_x` → ([nation, customer, c_x], {1 → [p]}).
    * None when the tree is not a pure spine (nav nested inside a function
    * application, fork, sort, …) — those take the rewrite fallback.
    */
  private def sievedSpine(ast: Ast): Option[(Seq[String], Map[Int, Seq[Ast]])] = ast match {
    case Ident(n) => Some((Seq(n), Map.empty))
    case Compose(b, m) =>
      for {
        (lb, sb) <- sievedSpine(b)
        (lm, sm) <- sievedSpine(m)
      } yield (lb ++ lm, sb ++ sm.map { case (d, ps) => (d + lb.size) -> ps })
    case Sieve(b, p) =>
      sievedSpine(b).map { case (ls, ss) =>
        (ls, ss.updated(ls.size, ss.getOrElse(ls.size, Seq.empty) :+ p))
      }
    case _ => None
  }

  /** Rewrite the aggregate argument so references through the plural chain
    * bind in the child scope: `orders.o_totalprice > 400` with chain
    * [orders] becomes `o_totalprice > 400` bound on the orders flow.
    */
  private def rewriteForChild(ast: Ast, chain: Seq[String]): Ast = ast match {
    case a if chainMatches(a, chain) == Some(Nil) =>
      // the bare chain itself — aggregated as count(*)
      Ident("__row__")
    case a =>
      chainMatches(a, chain) match {
        case Some(rest) => rest.tail.foldLeft[Ast](Ident(rest.head))((b, n) => Compose(b, Ident(n)))
        case None => a match {
          case Apply(f, args) => Apply(f, args.map(rewriteForChild(_, chain)))
          case Sieve(b, p) => Sieve(rewriteForChild(b, chain), p)
          // compose whose base is not a pure chain (sieved flow in the
          // spine): rewrite the base, keep the member
          case Compose(b, m) => Compose(rewriteForChild(b, chain), m)
          case other => other
        }
      }
  }

  /** If `ast` is a nav chain starting with `chain`, return the remainder. */
  private def chainMatches(ast: Ast, chain: Seq[String]): Option[Seq[String]] =
    ast match {
      case Ident(_) | Compose(_, _) =>
        try {
          val ls = chainLabels(ast)
          if (ls.startsWith(chain)) Some(ls.drop(chain.length).toList) else None
        } catch { case _: PlanError => None }
      case _ => None
    }

  /** Aggregate dispatch. Float/double sums and averages run through exact
    * decimal (Ht.dsum shape) so results don't depend on partition/merge
    * order — mandatory for reproducible results on a cluster, and the same
    * trick the DuckDB oracles use.
    */
  private def aggregateFn(fn: String, value: Column, valueType: Option[DataType]): Column = {
    val floaty = valueType.exists(t => t == DoubleType || t == FloatType)
    fn match {
      case "count" => count(value)
      case "sum" if floaty => sum(value.cast(DecimalType(30, 6))).cast(DoubleType)
      case "sum" => sum(value)
      case "avg" if floaty =>
        sum(value.cast(DecimalType(30, 6))).cast(DoubleType) / count(value)
      case "avg" => avg(value)
      case "min" => min(value)
      case "max" => max(value)
      case "exists" | "any" => bool_or(value)
      case "every" => bool_and(value)
      case other => throw new PlanError(s"unknown aggregate '$other'")
    }
  }

  /** Default value for an aggregate over an empty plural flow
    * (reference: quantifier/count semantics — count=0, exists/any=false,
    * every=true, sum/avg/min/max=NULL).
    */
  private def emptyDefault(fn: String): Option[Column] = fn match {
    case "count" => Some(lit(0L))
    case "exists" | "any" => Some(lit(false))
    case "every" => Some(lit(true))
    case _ => None
  }

  /** If `ast` is a flow rooted at a detached `@table`, return the table and
    * the remainder rewritten against that root (`__row__` marks the bare
    * flow, mirroring rewriteForChild's convention).
    */
  private def stripDetach(ast: Ast): Option[(String, Ast)] = ast match {
    case Apply("@", Seq(Ident(t))) => Some((t, Ident("__row__")))
    case Compose(b, m) => stripDetach(b).map {
      case (t, Ident("__row__")) => (t, m)
      case (t, rest) => (t, Compose(rest, m))
    }
    case Sieve(b, p) => stripDetach(b).map {
      case (t, Ident("__row__")) => (t, Sieve(Ident("__row__"), p))
      case (t, rest) => (t, Sieve(rest, p))
    }
    case _ => None
  }

  /** Detached aggregate `count(@table…)`: the flow re-roots at the home
    * scope, so the aggregate is UNCORRELATED — one global aggregation, its
    * single row broadcast-cross-joined onto the axis (reference:
    * AttachSpace — at scale this is a metadata-light broadcast, never a
    * per-row subquery).
    */
  private def bindDetachedAggregate(ctx: Ctx, fn: String, tname: String,
      rewritten: Ast): Column = {
    if (!catalog.isTable(tname))
      throw new PlanError(s"'@$tname' is not a table")
    val childCtx = new Ctx(tname, tables(tname), ctx.defines, Set.empty)
    childCtx.inherited = ctx.defines.keySet
    val bare: Column = fn match {
      case "exists" | "any" | "every" => lit(true)
      case _ => lit(1L)
    }
    val (valueCol, valueType) = rewritten match {
      case Ident("__row__") => (bare, None)
      case Sieve(Ident("__row__"), pred) =>
        val cond = bindScalar(childCtx, pred) // bind first: may join onto childCtx.df
        childCtx.df = childCtx.df.filter(cond); (bare, None)
      case Compose(Sieve(Ident("__row__"), pred), rest) =>
        val cond = bindScalar(childCtx, pred)
        childCtx.df = childCtx.df.filter(cond)
        val c = bindScalar(childCtx, rest); (c, Some(dataTypeOf(childCtx, c)))
      case other =>
        val c = bindScalar(childCtx, other); (c, Some(dataTypeOf(childCtx, c)))
    }
    val aggName = s"__agg_${aggCounter}"; aggCounter += 1
    val aggDf = childCtx.df.agg(aggregateFn(fn, valueCol, valueType).as(aggName))
    ctx.df = ctx.df.crossJoin(broadcast(aggDf))
    emptyDefault(fn) match {
      case Some(d) => coalesce(col(aggName), d)
      case None => col(aggName)
    }
  }

  private def bindAggregate(ctx: Ctx, fn: String, args: Seq[Ast]): Column = {
    val arg = args.headOption.getOrElse(throw new PlanError(s"$fn() needs an argument"))

    // window (fork) aggregates don't join, so only joining forms cache
    val cacheable = arg match {
      case Compose(Apply("fork", _), _) => false
      case _ => true
    }
    // key on the defines the argument can actually SEE — its free names,
    // closed TRANSITIVELY through define bodies (x := y means a
    // redefinition of y must change x's key too). A full-snapshot key
    // would miss the advertised reuse case, because a selection alias
    // binds its body with itself self-removed while the materialization
    // bind runs under the full map.
    def freeNames(a: Ast): Set[String] = a match {
      case Ident(n) => Set(n)
      case Ref(n) => Set(n)
      case Apply(_, as) => as.flatMap(freeNames).toSet
      case Compose(b, m) => freeNames(b) ++ freeNames(m)
      case Sieve(b, p) => freeNames(b) ++ freeNames(p)
      case SortOp(b, ks) => freeNames(b) ++ ks.flatMap(k => freeNames(k.expr))
      case _ => Set.empty
    }
    @annotation.tailrec
    def closure(names: Set[String], seen: Set[String]): Set[String] = {
      val fresh = names -- seen
      if (fresh.isEmpty) names
      else closure(names ++ fresh.flatMap(n =>
        ctx.defines.get(n).map(freeNames).getOrElse(Set.empty)), seen ++ fresh)
    }
    val key = (fn, arg,
      ctx.defines.view.filterKeys(closure(freeNames(arg), Set.empty)).toMap)
    if (cacheable) ctx.aggCache.get(key).foreach(c => return c)
    def cached(c: Column): Column = { if (cacheable) ctx.aggCache(key) = c; c }

    // in the root scope every flow argument is implicitly detached
    val arg0 = if (ctx.isRoot) wrapRoot(arg) else arg
    stripDetach(arg0) match {
      case Some((tname, rewritten)) =>
        return cached(bindDetachedAggregate(ctx, fn, tname, rewritten))
      case None =>
    }

    // fork(): aggregate over rows sharing the kernel value — window form
    arg match {
      case Compose(Apply("fork", kernels), rest) =>
        val w = Window.partitionBy(kernels.map(bindScalar(ctx, _)): _*)
        val value = bindScalar(ctx, rest)
        val floaty = {
          val t = dataTypeOf(ctx, value); t == DoubleType || t == FloatType
        }
        // the decimal-exact float shapes window the SUM itself and cast
        // OUTSIDE: `sum(cast).cast(double).over(w)` attaches the window to
        // the cast and leaves the sum as a plain (group-less) aggregate
        return (fn match {
          case "avg" if floaty =>
            sum(value.cast(DecimalType(30, 6))).over(w).cast(DoubleType) /
              count(value).over(w)
          case "avg" => avg(value).over(w)
          case "sum" if floaty =>
            sum(value.cast(DecimalType(30, 6))).over(w).cast(DoubleType)
          case _ => aggregateFn(fn, value, None).over(w)
        })
      case _ =>
    }

    // bare-flow default value: rows count as 1 (count) or true (quantifiers)
    val bare: Column = fn match {
      case "exists" | "any" | "every" => lit(true)
      case _ => lit(1L)
    }

    // TOP-LEVEL spine path: the argument is a pure compose/sieve spine —
    // take the longest consecutive reverse-link run as the plural chain
    // and apply each sieve at the hop it wraps (the reference allows a
    // sieve at ANY depth: `max((nation?p).customer.c_x)` filters nations
    // before composing their customers). Args whose nav is buried inside
    // a function application fall through to the rewrite machinery below.
    val spinePath: Option[(Seq[(String, Seq[Ast])], Option[Ast])] =
      sievedSpine(arg).flatMap { case (labels, sieves) =>
        var cur = ctx.table
        var n = 0
        while (n < labels.length && catalog.reverseLink(cur, labels(n)).isDefined) {
          cur = catalog.reverseLink(cur, labels(n)).get.childTable
          n += 1
        }
        if (n == 0) None
        else {
          val steps = (0 until n).map(i => (labels(i), sieves.getOrElse(i + 1, Seq.empty)))
          // remainder: labels past the chain, their sieves re-attached at
          // the same relative position (scalar sieves bind in child scope)
          val remainder = labels.drop(n).zipWithIndex.foldLeft(Option.empty[Ast]) {
            case (acc, (l, j)) =>
              val base: Ast = acc match {
                case None => Ident(l)
                case Some(b) => Compose(b, Ident(l))
              }
              Some(sieves.getOrElse(n + j + 1, Seq.empty).foldLeft(base)(Sieve(_, _)))
          }
          Some((steps, remainder))
        }
      }

    val (headLabel, rootKeys, childCtx, valueCol, valueType) = spinePath match {
      case Some((steps, remainder)) =>
        val (childDfRaw, rks, cctx) = pluralFlowSieved(ctx, steps)
        cctx.df = childDfRaw
        val (v, vt) = remainder match {
          case None => (bare, None)
          case Some(r) =>
            val c = bindScalar(cctx, r)
            (c, Some(dataTypeOf(cctx, c)))
        }
        (steps.head._1, rks, cctx, v, vt)

      case None =>
        val chain = pluralChainOf(ctx, arg)
        if (chain.isEmpty)
          throw new PlanError(s"$fn() requires a plural flow argument")
        val (childDfRaw, rks, cctx) = pluralFlow(ctx, chain)
        cctx.df = childDfRaw
        val rewritten = rewriteForChild(arg, chain)
        // Split the rewritten argument's compose spine into (flow sieves,
        // scalar remainder): `__row__` → bare count, `__row__?p` → filtered
        // bare count, `(__row__?p).x.y` → filter then bind `x.y` in the
        // child scope. Sieves in the spine filter the CHILD FLOW; anything
        // after them binds as a scalar over the filtered flow.
        def split(a: Ast): (Seq[Ast], Option[Ast]) = a match {
          case Ident("__row__") => (Nil, None)
          case Sieve(b, p) =>
            val (ps, rest) = split(b)
            rest match {
              case None => (ps :+ p, None)
              // sieve of a scalar isn't a flow op — leave it to bindScalar
              case Some(r) => (ps, Some(Sieve(r, p)))
            }
          case Compose(b, m) =>
            val (ps, rest) = split(b)
            (ps, rest match { case None => Some(m); case Some(r) => Some(Compose(r, m)) })
          case other => (Nil, Some(other))
        }
        val (flowSieves, scalarPart) = split(rewritten)
        flowSieves.foreach { p =>
          val cond = bindScalar(cctx, p) // bind first: may join onto cctx.df
          cctx.df = cctx.df.filter(cond)
        }
        val (v, vt) = scalarPart match {
          case None => (bare, None)
          case Some(other) =>
            val c = bindScalar(cctx, other)
            (c, Some(dataTypeOf(cctx, c)))
        }
        (chain.head, rks, cctx, v, vt)
    }

    val aggName = s"__agg_${aggCounter}"; aggCounter += 1
    val aggDf = childCtx.df
      .groupBy(rootKeys.map(col): _*)
      .agg(aggregateFn(fn, valueCol, valueType).as(aggName))

    val link = catalog.reverseLink(ctx.table, headLabel).get
    val cond = link.parentCols.zip(rootKeys)
      .map { case (p, k) => ctx.df(p) === aggDf(k) }.reduce(_ && _)
    // child FK names never collide with the parent's own columns in this
    // catalog, so a name-based drop removes exactly the join keys
    ctx.df = rootKeys.foldLeft(ctx.df.join(aggDf, cond, "left"))(_ drop _)
    cached(emptyDefault(fn) match {
      case Some(d) => coalesce(col(aggName), d)
      case None => col(aggName)
    })
  }

  // ---------------------------------------------------------------- misc --

  private def direction(c: Column, asc: Boolean): Column = if (asc) c.asc else c.desc

  /** Public entry: one uniform pipeline — quotient selection is a planFlow
    * case, so every pipeline suffix (re-select, sieve, sort, limit, define)
    * composes over it like over any other projected flow.
    */
  def planQuery(ast: Ast): DataFrame = reposition(ast)(plan(ast))
}

