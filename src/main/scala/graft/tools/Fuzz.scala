package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.util.Random

/** Seeded differential-fuzz generator over the gate tables.
  *
  * The 202 fixed oracle queries can never catch a semantics bug outside
  * their shapes, so this generator draws random query plans from a
  * grammar bounded by the engine's implemented surface — conjunctive/
  * disjunctive predicates, group-by subsets with the full aggregate set,
  * FK join chains (inner/left/semi/anti), window frames, set operations,
  * and null-handling variants (`nullif`-injected keys and aggregate
  * inputs; the gate tables themselves are null-free) — and emits every
  * case TWICE from one AST:
  *
  *  - a DataFrame plan composed through the public Column API, and
  *  - an ANSI SQL string runnable verbatim by BOTH Spark SQL and DuckDB.
  *
  * [[graft.FuzzSpec]] hash-compares the two emissions in-JVM (DataFrame
  * vs `spark.sql`) for ≥500 seeded cases per CI run; [[FuzzHarness]]
  * dumps the DataFrame results + SQL in the exact layout
  * `tools/check_oracle.py` consumes, so the same cases run through the
  * real cross-engine DuckDB oracle at sf0.01. A divergence reproduces
  * from `(seed, index)` alone — that pair IS the regression pin.
  *
  * Cross-engine determinism rules the grammar enforces (each one is a
  * way two correct engines can disagree, not a bug):
  *
  *  - every LIMIT sits under a total ORDER BY over never-null unique
  *    key columns (Spark sorts nulls FIRST, DuckDB LAST — so nullable
  *    sort keys near a LIMIT boundary would legitimately diverge);
  *  - `sum(<int>)` is cast to BIGINT on both sides (DuckDB widens to
  *    HUGEINT, which pandas renders as float64 and the gate's dtype-kind
  *    check would fail);
  *  - window functions whose result depends on peer order
  *    (`row_number`, `lag`, running sums) order by the unique key;
  *    `rank`/`dense_rank` may order by a non-unique column because ties
  *    rank identically;
  *  - aggregate/computed output columns are aliased `z_*` and group
  *    keys `k_*` (or keep their natural `x_`-prefixed names), so the
  *    gate's sort-columns-by-name canonicalization always orders rows
  *    by exact key columns before any float aggregate can wobble a row
  *    swap;
  *  - upper/lower stay off the unicode `documents.text` column (engines
  *    may differ on locale case folding); code-point-exact `length`/
  *    `substr` are allowed there on purpose — a real probe.
  */
object Fuzz {

  // ---------------------------------------------------------------- model

  sealed trait FType
  case object TInt extends FType
  case object TDouble extends FType
  case object TStr extends FType
  case object TTs extends FType

  /** How predicate literals for a column are drawn. `None` (free text
    * columns) → the column is projection-only.
    */
  sealed trait Domain
  final case class DInt(lo: Long, hi: Long) extends Domain
  final case class DDouble(lo: Double, hi: Double) extends Domain
  final case class DStr(values: Seq[String]) extends Domain
  /** timestamps drawn uniformly from [loYear, hiYear] (day ≤ 28) */
  final case class DTs(loYear: Int, hiYear: Int, loMonth: Int = 1,
      hiMonth: Int = 12) extends Domain

  final case class FCol(name: String, typ: FType,
      domain: Option[Domain], groupable: Boolean = false)

  /** `uniq` is a never-null column set totally ordering the table —
    * the LIMIT-determinism anchor. */
  final case class FTable(name: String, uniq: Seq[String], cols: Seq[FCol])

  /** one dual-emitted expression: the SQL fragment and the equivalent
    * Column, plus the result type the grammar needs for composition */
  final case class E(sql: String, col: Column, typ: FType)

  final case class FuzzCase(name: String, seed: Long, index: Int,
      sql: String, df: (SparkSession, String) => DataFrame)

  // ------------------------------------------------------------- catalog

  val tables: Seq[FTable] = Seq(
    // lineitem's ORDER-BY anchor is ALL columns: the synthetic data has
    // duplicate (l_orderkey, l_linenumber) pairs (11,785 at sf0.01 —
    // found by fuzz cases fz0094/fz0238, whose LIMIT boundaries then
    // legitimately picked different rows per engine), but no full-row
    // duplicates at any SF, so the full column list is a total order
    // whose only ties are identical rows
    FTable("lineitem", Seq("l_orderkey", "l_linenumber", "l_partkey",
      "l_suppkey", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate"), Seq(
      FCol("l_orderkey", TInt, Some(DInt(1, 150000))),
      FCol("l_partkey", TInt, Some(DInt(1, 20000))),
      FCol("l_suppkey", TInt, Some(DInt(1, 1000))),
      FCol("l_linenumber", TInt, Some(DInt(1, 7)), groupable = true),
      FCol("l_quantity", TDouble, Some(DDouble(1, 50)), groupable = true),
      FCol("l_extendedprice", TDouble, Some(DDouble(900, 105000))),
      FCol("l_discount", TDouble, Some(DDouble(0, 0.1))),
      FCol("l_tax", TDouble, Some(DDouble(0, 0.08))),
      FCol("l_returnflag", TStr, Some(DStr(Seq("R", "N", "A"))), groupable = true),
      FCol("l_linestatus", TStr, Some(DStr(Seq("F", "O"))), groupable = true),
      FCol("l_shipdate", TTs, Some(DTs(1995, 2001))))),
    FTable("orders", Seq("o_orderkey"), Seq(
      FCol("o_orderkey", TInt, Some(DInt(1, 150000))),
      FCol("o_custkey", TInt, Some(DInt(1, 15000))),
      FCol("o_orderstatus", TStr, Some(DStr(Seq("O", "P", "F"))), groupable = true),
      FCol("o_totalprice", TDouble, Some(DDouble(1000, 500000))),
      FCol("o_orderdate", TTs, Some(DTs(1995, 2001))),
      FCol("o_orderpriority", TStr, Some(DStr(Seq("1-URGENT", "2-HIGH",
        "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))), groupable = true))),
    FTable("customer", Seq("c_custkey"), Seq(
      FCol("c_custkey", TInt, Some(DInt(1, 15000))),
      FCol("c_name", TStr, None),
      FCol("c_nationkey", TInt, Some(DInt(0, 24)), groupable = true),
      FCol("c_acctbal", TDouble, Some(DDouble(-1000, 10000))),
      FCol("c_mktsegment", TStr, Some(DStr(Seq("AUTOMOBILE", "BUILDING",
        "FURNITURE", "HOUSEHOLD", "MACHINERY"))), groupable = true))),
    FTable("supplier", Seq("s_suppkey"), Seq(
      FCol("s_suppkey", TInt, Some(DInt(1, 1000))),
      FCol("s_name", TStr, None),
      FCol("s_nationkey", TInt, Some(DInt(0, 24)), groupable = true),
      FCol("s_acctbal", TDouble, Some(DDouble(-1000, 10000))))),
    FTable("part", Seq("p_partkey"), Seq(
      FCol("p_partkey", TInt, Some(DInt(1, 20000))),
      FCol("p_name", TStr, None),
      FCol("p_brand", TStr, Some(DStr((1 to 25).map(i => s"Brand#$i"))),
        groupable = true),
      FCol("p_type", TStr, Some(DStr(Seq("ECONOMY", "LARGE", "MEDIUM",
        "PROMO", "SMALL", "STANDARD"))), groupable = true),
      FCol("p_size", TInt, Some(DInt(1, 50)), groupable = true),
      FCol("p_retailprice", TDouble, Some(DDouble(900, 1000))))),
    FTable("nation", Seq("n_nationkey"), Seq(
      FCol("n_nationkey", TInt, Some(DInt(0, 24))),
      FCol("n_name", TStr, None),
      FCol("n_regionkey", TInt, Some(DInt(0, 4)), groupable = true))),
    FTable("region", Seq("r_regionkey"), Seq(
      FCol("r_regionkey", TInt, Some(DInt(0, 4))),
      FCol("r_name", TStr, None))),
    FTable("events", Seq("event_id"), Seq(
      FCol("event_id", TInt, Some(DInt(0, 100000))),
      FCol("ts", TTs, Some(DTs(2024, 2024, 1, 1))),
      FCol("user_id", TInt, Some(DInt(0, 1500))),
      FCol("event_type", TStr, Some(DStr(Seq("click", "error", "purchase",
        "signup", "view"))), groupable = true),
      FCol("value", TDouble, Some(DDouble(0, 560))),
      FCol("props", TStr, None))),
    FTable("documents", Seq("doc_id"), Seq(
      FCol("doc_id", TInt, Some(DInt(0, 5000))),
      FCol("text", TStr, None),
      FCol("lang", TStr, Some(DStr(Seq("de", "en", "es", "fr", "zh"))),
        groupable = true),
      FCol("source", TStr, Some(DStr((0 until 20).map(i => s"src$i"))),
        groupable = true),
      FCol("n_chars", TInt, Some(DInt(44, 577))))))

  private val byName: Map[String, FTable] = tables.map(t => t.name -> t).toMap

  /** FK edges; each `(left, right, lk, rk)` joins a left table (or a
    * chain ending in it) to a right dim. All key columns are never-null,
    * so inner-vs-left divergence comes only from generator-filtered
    * right sides — exactly the outer-null probe we want. */
  private val joinEdges: Seq[(String, String, String, String)] = Seq(
    ("lineitem", "orders", "l_orderkey", "o_orderkey"),
    ("lineitem", "part", "l_partkey", "p_partkey"),
    ("lineitem", "supplier", "l_suppkey", "s_suppkey"),
    ("orders", "customer", "o_custkey", "c_custkey"),
    ("customer", "nation", "c_nationkey", "n_nationkey"),
    ("supplier", "nation", "s_nationkey", "n_nationkey"),
    ("nation", "region", "n_regionkey", "r_regionkey"))

  /** deterministic LIMIT cap — small enough that the python gate's
    * per-value compare stays fast across 500 cases */
  private val RowCap = 1000

  // ------------------------------------------------------------ literals

  private def sq(s: String): String = "'" + s.replace("'", "''") + "'"

  private def litFor(rng: Random, d: Domain): E = d match {
    case DInt(lo, hi) =>
      val v = lo + (rng.nextDouble() * (hi - lo)).toLong
      E(v.toString, lit(v), TInt)
    case DDouble(lo, hi) =>
      val v = math.rint((lo + rng.nextDouble() * (hi - lo)) * 100) / 100
      // E-notation forces DOUBLE in both parsers — a bare `8350.30`
      // parses as DECIMAL(6,2) in Spark SQL AND DuckDB, while the
      // Column side's lit(8350.3) is DoubleType (found by this very
      // fuzzer: seed=42 idx=320)
      E(s"${v}e0", lit(v), TDouble)
    case DStr(vs) =>
      val v = vs(rng.nextInt(vs.size))
      E(sq(v), lit(v), TStr)
    case DTs(loY, hiY, loM, hiM) =>
      val y = loY + rng.nextInt(hiY - loY + 1)
      val m = loM + rng.nextInt(hiM - loM + 1)
      val day = 1 + rng.nextInt(28)
      val s = f"$y%04d-$m%02d-$day%02d 00:00:00"
      E(s"TIMESTAMP ${sq(s)}", to_timestamp(lit(s)), TTs)
  }

  private def baseE(c: FCol): E = E(c.name, col(c.name), c.typ)

  private def pick[A](rng: Random, xs: Seq[A]): A = xs(rng.nextInt(xs.size))

  // ---------------------------------------------------------- predicates

  /** one atomic predicate over a predicable column */
  private def atom(rng: Random, c: FCol): E = {
    val d = c.domain.get
    val b = baseE(c)
    rng.nextInt(if (c.typ == TStr) 5 else 4) match {
      case 0 => // comparison
        val op = pick(rng, Seq("<", "<=", ">", ">=", "=", "<>"))
        val l = litFor(rng, d)
        val cc = op match {
          case "<" => b.col < l.col;  case "<=" => b.col <= l.col
          case ">" => b.col > l.col;  case ">=" => b.col >= l.col
          case "=" => b.col === l.col; case _ => b.col =!= l.col
        }
        E(s"(${b.sql} $op ${l.sql})", cc, TStr /*bool*/)
      case 1 => // between: endpoint order delegated to least/greatest —
        // identical builtins in both engines, no literal-order guessing
        val (x, y) = (litFor(rng, d), litFor(rng, d))
        E(s"(${b.sql} BETWEEN least(${x.sql}, ${y.sql}) AND " +
            s"greatest(${x.sql}, ${y.sql}))",
          b.col.between(least(x.col, y.col), greatest(x.col, y.col)), TStr)
      case 2 => // IN list
        val k = 2 + rng.nextInt(3)
        val ls = Seq.fill(k)(litFor(rng, d))
        // DF side as an OR-chain of equalities — semantically identical
        // to IN over non-null literals, and it composes for literal
        // Columns of every type (isin wants raw values)
        E(s"(${b.sql} IN (${ls.map(_.sql).mkString(", ")}))",
          ls.map(l => b.col === l.col).reduce(_ || _), TStr)
      case 3 => // null-injection probe: nullif(col, v) IS [NOT] NULL
        val l = litFor(rng, d)
        if (rng.nextBoolean())
          E(s"(nullif(${b.sql}, ${l.sql}) IS NULL)",
            nullif(b.col, l.col).isNull, TStr)
        else
          E(s"(nullif(${b.sql}, ${l.sql}) IS NOT NULL)",
            nullif(b.col, l.col).isNotNull, TStr)
      case _ => // LIKE prefix/suffix on a domain string
        val v = d.asInstanceOf[DStr].values(rng.nextInt(
          d.asInstanceOf[DStr].values.size))
        val pat =
          if (rng.nextBoolean()) v.take(1 + rng.nextInt(math.max(1, v.length - 1))) + "%"
          else "%" + v.takeRight(1 + rng.nextInt(math.max(1, v.length - 1)))
        E(s"(${b.sql} LIKE ${sq(pat)})", b.col.like(pat), TStr)
    }
  }

  /** 1–3 atoms joined with AND/OR (parenthesized), optionally negated */
  private def predicate(rng: Random, t: FTable): E = {
    val predicable = t.cols.filter(_.domain.isDefined)
    val n = 1 + rng.nextInt(3)
    val parts = Seq.fill(n)(atom(rng, pick(rng, predicable)))
    val joined = parts.reduceLeft { (a, b) =>
      if (rng.nextBoolean()) E(s"(${a.sql} AND ${b.sql})", a.col && b.col, TStr)
      else E(s"(${a.sql} OR ${b.sql})", a.col || b.col, TStr)
    }
    if (rng.nextInt(5) == 0) E(s"(NOT ${joined.sql})", !joined.col, TStr)
    else joined
  }

  // --------------------------------------------------------- expressions

  /** scalar projection expression over `t` (never a window/aggregate) */
  private def scalarExpr(rng: Random, t: FTable, zIdx: Int): (String, E) = {
    val alias = s"z_$zIdx"
    val ints = t.cols.filter(_.typ == TInt)
    val dbls = t.cols.filter(_.typ == TDouble)
    val strs = t.cols.filter(_.typ == TStr)
    val tss = t.cols.filter(_.typ == TTs)
    val choices = scala.collection.mutable.ArrayBuffer.empty[() => E]
    if (ints.size >= 2) choices += { () =>
      val (a, b) = (baseE(pick(rng, ints)), baseE(pick(rng, ints)))
      val op = pick(rng, Seq("+", "-"))
      E(s"(${a.sql} $op ${b.sql})",
        if (op == "+") a.col + b.col else a.col - b.col, TInt)
    }
    if (dbls.size >= 2) choices += { () =>
      val (a, b) = (baseE(pick(rng, dbls)), baseE(pick(rng, dbls)))
      val op = pick(rng, Seq("+", "-", "*"))
      E(s"(${a.sql} $op ${b.sql})", op match {
        case "+" => a.col + b.col
        case "-" => a.col - b.col
        case _ => a.col * b.col
      }, TDouble)
    }
    if (strs.nonEmpty) choices += { () =>
      val a = baseE(pick(rng, strs))
      rng.nextInt(3) match {
        case 0 => E(s"length(${a.sql})", length(a.col), TInt)
        case 1 =>
          val k = 1 + rng.nextInt(8)
          E(s"substr(${a.sql}, 1, $k)", substring(a.col, 1, k), TStr)
        case _ =>
          val b = baseE(pick(rng, strs))
          E(s"(${a.sql} || ${b.sql})", concat(a.col, b.col), TStr)
      }
    }
    // case-folding only on domain-bounded (ASCII) strings — never on
    // documents.text, where locale case folding may legitimately differ
    val asciiStrs = strs.filter(_.domain.isDefined)
    if (asciiStrs.nonEmpty) choices += { () =>
      val a = baseE(pick(rng, asciiStrs))
      if (rng.nextBoolean()) E(s"upper(${a.sql})", upper(a.col), TStr)
      else E(s"lower(${a.sql})", lower(a.col), TStr)
    }
    if (tss.nonEmpty) choices += { () =>
      val a = baseE(pick(rng, tss))
      rng.nextInt(5) match {
        case 0 => E(s"year(${a.sql})", year(a.col), TInt)
        case 1 => E(s"month(${a.sql})", month(a.col), TInt)
        case 2 => E(s"day(${a.sql})", dayofmonth(a.col), TInt)
        case 3 =>
          val part = pick(rng, Seq("year", "month", "day"))
          E(s"date_trunc(${sq(part)}, ${a.sql})",
            date_trunc(part, a.col), TTs)
        case _ => // interval arithmetic — identical literal syntax
          val k = 1 + rng.nextInt(90)
          E(s"(${a.sql} + INTERVAL $k DAY)",
            a.col + expr(s"INTERVAL $k DAY"), TTs)
      }
    }
    if (ints.nonEmpty || dbls.nonEmpty) choices += { () =>
      val a = baseE(pick(rng, ints ++ dbls))
      rng.nextInt(3) match {
        case 0 => E(s"abs(${a.sql})", abs(a.col), a.typ)
        // floor/ceil: Spark returns LONG for double input, DuckDB
        // DOUBLE — CAST both sides to BIGINT (values are exact either
        // way, only the carrier type differs)
        case 1 => E(s"CAST(floor(${a.sql}) AS BIGINT)",
          floor(a.col).cast("long"), TInt)
        case _ => E(s"CAST(ceil(${a.sql}) AS BIGINT)",
          ceil(a.col).cast("long"), TInt)
      }
    }
    val domStrs = strs.filter(_.domain.isDefined)
    if (domStrs.nonEmpty) choices += { () =>
      val c = pick(rng, domStrs)
      val v = c.domain.get.asInstanceOf[DStr].values
      val from = pick(rng, v).take(1 + rng.nextInt(3))
      E(s"replace(${c.name}, ${sq(from)}, ${sq("_")})",
        replace(col(c.name), lit(from), lit("_")), TStr)
    }
    val predicable = t.cols.filter(_.domain.isDefined)
    if (predicable.nonEmpty) choices += { () => // CASE WHEN
      val p = atom(rng, pick(rng, predicable))
      val c = pick(rng, predicable)
      val (th, el) = (litFor(rng, c.domain.get), litFor(rng, c.domain.get))
      E(s"(CASE WHEN ${p.sql} THEN ${th.sql} ELSE ${el.sql} END)",
        when(p.col, th.col).otherwise(el.col), th.typ)
    }
    if (predicable.nonEmpty) choices += { () => // nullif/coalesce pair
      val c = pick(rng, predicable)
      val v = litFor(rng, c.domain.get)
      val b = baseE(c)
      if (rng.nextBoolean())
        E(s"nullif(${b.sql}, ${v.sql})", nullif(b.col, v.col), c.typ)
      else {
        val w = litFor(rng, c.domain.get)
        E(s"coalesce(nullif(${b.sql}, ${v.sql}), ${w.sql})",
          coalesce(nullif(b.col, v.col), w.col), c.typ)
      }
    }
    (alias, choices(rng.nextInt(choices.size))())
  }

  /** group key: base groupable column, or a derived key (nullif /
    * year(ts) / substr / CASE bucket) — aliased k_i so canonical column
    * sort keeps keys ahead of z_* aggregates */
  private def groupKey(rng: Random, t: FTable, i: Int): (String, E) = {
    val alias = s"k_$i"
    val groupables = t.cols.filter(_.groupable)
    val tss = t.cols.filter(_.typ == TTs)
    val nums = t.cols.filter(c => c.typ == TDouble && c.domain.isDefined)
    val choices = scala.collection.mutable.ArrayBuffer.empty[() => E]
    if (groupables.nonEmpty) {
      choices += { () => baseE(pick(rng, groupables)) }
      choices += { () =>
        val c = pick(rng, groupables)
        val v = litFor(rng, c.domain.get)
        E(s"nullif(${c.name}, ${v.sql})", nullif(col(c.name), v.col), c.typ)
      }
    }
    if (tss.nonEmpty) choices += { () =>
      val c = pick(rng, tss)
      if (rng.nextBoolean()) E(s"year(${c.name})", year(col(c.name)), TInt)
      else E(s"date_trunc('month', ${c.name})",
        date_trunc("month", col(c.name)), TTs)
    }
    if (nums.nonEmpty) choices += { () =>
      val c = pick(rng, nums)
      val v = litFor(rng, c.domain.get)
      E(s"(CASE WHEN ${c.name} < ${v.sql} THEN 'lo' ELSE 'hi' END)",
        when(col(c.name) < v.col, lit("lo")).otherwise(lit("hi")), TStr)
    }
    if (choices.isEmpty) {
      // tables with no groupable/ts/double columns (region) still need a
      // key: any domain-bounded column is low-cardinality enough
      val c = t.cols.find(_.domain.isDefined).get
      choices += { () => baseE(c) }
    }
    (alias, choices(rng.nextInt(choices.size))())
  }

  /** one aggregate over `t`'s columns, aliased z_i. `sum(<int>)` is
    * CAST BIGINT on both sides (DuckDB's HUGEINT→float64 would trip the
    * gate's dtype-kind check). Aggregate inputs are nullif-wrapped with
    * probability ~1/4 — the null-skipping semantics probe. */
  private def aggregate(rng: Random, t: FTable, i: Int): (String, E) = {
    val alias = s"z_$i"
    val nums = t.cols.filter(c => (c.typ == TInt || c.typ == TDouble))
    val anyd = t.cols.filter(_.domain.isDefined)
    def maybeNullif(c: FCol): E = {
      val b = baseE(c)
      if (c.domain.isDefined && rng.nextInt(4) == 0) {
        val v = litFor(rng, c.domain.get)
        E(s"nullif(${b.sql}, ${v.sql})", nullif(b.col, v.col), c.typ)
      } else b
    }
    rng.nextInt(7) match {
      case 0 => (alias, E("count(*)", count(lit(1)), TInt))
      case 1 =>
        val x = maybeNullif(pick(rng, anyd))
        (alias, E(s"count(${x.sql})", count(x.col), TInt))
      case 2 =>
        val x = maybeNullif(pick(rng, anyd))
        (alias, E(s"count(DISTINCT ${x.sql})", count_distinct(x.col), TInt))
      case 3 =>
        val c = pick(rng, nums)
        val x = maybeNullif(c)
        if (c.typ == TInt)
          (alias, E(s"CAST(sum(${x.sql}) AS BIGINT)",
            sum(x.col).cast("long"), TInt))
        else (alias, E(s"sum(${x.sql})", sum(x.col), TDouble))
      case 4 =>
        val x = maybeNullif(pick(rng, nums))
        (alias, E(s"avg(${x.sql})", avg(x.col), TDouble))
      case 5 =>
        val x = maybeNullif(pick(rng, anyd))
        (alias, E(s"min(${x.sql})", min(x.col), x.typ))
      case _ =>
        val x = maybeNullif(pick(rng, anyd))
        (alias, E(s"max(${x.sql})", max(x.col), x.typ))
    }
  }

  // -------------------------------------------------------- base frames

  /** events goes through Tables.events (the nanos-safe loader) with its
    * derived ts_ns dropped, so the frame's schema matches what DuckDB
    * sees in the raw parquet; everything else is the plain scan */
  private def load(s: SparkSession, dir: String, t: String): DataFrame =
    if (t == "events") graft.Tables.events(s, dir).drop("ts_ns")
    else graft.Tables.table(s, dir, t)

  // ------------------------------------------------------------- shapes

  /** scan: filter → computed projections → ORDER BY uniq LIMIT cap */
  private def shapeScan(rng: Random, t: FTable): (String,
      (SparkSession, String) => DataFrame) = {
    val p = predicate(rng, t)
    val nBase = 1 + rng.nextInt(3)
    val baseCols = Seq.fill(nBase)(pick(rng, t.cols)).distinctBy(_.name)
    val nComp = rng.nextInt(3)
    val comps = (0 until nComp).map(i => scalarExpr(rng, t, i))
    val selSql = (baseCols.map(_.name) ++
      comps.map { case (a, e) => s"${e.sql} AS $a" }).mkString(", ")
    val sql = s"SELECT $selSql FROM ${t.name} WHERE ${p.sql} " +
      s"ORDER BY ${t.uniq.mkString(", ")} LIMIT $RowCap"
    val df = (s: SparkSession, dir: String) =>
      load(s, dir, t.name).filter(p.col)
        .orderBy(t.uniq.map(col): _*).limit(RowCap)
        .select(baseCols.map(c => col(c.name)) ++
          comps.map { case (a, e) => e.col.as(a) }: _*)
    (sql, df)
  }

  /** single-table aggregate, 0–2 keys, 1–3 aggs, optional HAVING */
  private def shapeAgg(rng: Random, t: FTable): (String,
      (SparkSession, String) => DataFrame) = {
    val p = predicate(rng, t)
    val nKeys = rng.nextInt(3)
    val keys = (0 until nKeys).map(i => groupKey(rng, t, i))
    val nAggs = 1 + rng.nextInt(3)
    var aggs = (0 until nAggs).map(i => aggregate(rng, t, i))
    val having = rng.nextInt(3) == 0 && keys.nonEmpty
    if (having && !aggs.exists(_._2.sql == "count(*)"))
      aggs = aggs :+ (s"z_${aggs.size}", E("count(*)", count(lit(1)), TInt))
    val havingN = 1 + rng.nextInt(3)
    val cntAlias = aggs.find(_._2.sql == "count(*)").map(_._1)
    val selSql = (keys.map { case (a, e) => s"${e.sql} AS $a" } ++
      aggs.map { case (a, e) => s"${e.sql} AS $a" }).mkString(", ")
    val sql = s"SELECT $selSql FROM ${t.name} WHERE ${p.sql}" +
      (if (keys.nonEmpty) s" GROUP BY ${keys.map(_._2.sql).mkString(", ")}"
       else "") +
      (if (having) s" HAVING count(*) >= $havingN" else "")
    val df = (s: SparkSession, dir: String) => {
      val base = load(s, dir, t.name).filter(p.col)
      val aggCols = aggs.map { case (a, e) => e.col.as(a) }
      val out =
        if (keys.isEmpty) base.agg(aggCols.head, aggCols.tail: _*)
        else base.groupBy(keys.map { case (a, e) => e.col.as(a) }: _*)
          .agg(aggCols.head, aggCols.tail: _*)
      if (having) out.filter(col(cntAlias.get) >= havingN) else out
    }
    (sql, df)
  }

  /** top-k groups: aggregate then ORDER BY the aggregate + keys, LIMIT.
    * The ordering aggregate is INTEGER-valued (count / CAST sum) — a
    * float aggregate differing in the last ulp between engines could
    * legitimately pick a different group at the LIMIT boundary. */
  private def shapeAggTopK(rng: Random, t: FTable): (String,
      (SparkSession, String) => DataFrame) = {
    val p = predicate(rng, t)
    val nKeys = 1 + rng.nextInt(2)
    val keys = (0 until nKeys).map(i => groupKey(rng, t, i))
    val ints = t.cols.filter(_.typ == TInt)
    val ord = if (ints.nonEmpty && rng.nextBoolean()) {
      val c = pick(rng, ints)
      ("z_0", E(s"CAST(sum(${c.name}) AS BIGINT)",
        sum(col(c.name)).cast("long"), TInt))
    } else ("z_0", E("count(*)", count(lit(1)), TInt))
    val k = 3 + rng.nextInt(8)
    val desc0 = rng.nextBoolean()
    val keySqls = keys.map(_._2.sql)
    val selSql = (keys.map { case (a, e) => s"${e.sql} AS $a" } :+
      s"${ord._2.sql} AS z_0").mkString(", ")
    // ORDER BY the agg then every key: keys are unique per group, so
    // the order is total and the LIMIT deterministic. NULLS LAST/FIRST
    // pinned explicitly — nullif'd keys may be null and the engines'
    // defaults differ (the grammar rule that is elsewhere solved by
    // never-null anchors)
    val dir0 = if (desc0) "DESC" else "ASC"
    val keyOrd = keys.map(kv => s"${kv._1} ASC NULLS LAST").mkString(", ")
    val sql = s"SELECT $selSql FROM ${t.name} WHERE ${p.sql} " +
      s"GROUP BY ${keySqls.mkString(", ")} " +
      s"ORDER BY z_0 $dir0, $keyOrd LIMIT $k"
    val df = (s: SparkSession, dir: String) => {
      val agged = load(s, dir, t.name).filter(p.col)
        .groupBy(keys.map { case (a, e) => e.col.as(a) }: _*)
        .agg(ord._2.col.as("z_0"))
      val ordCols = (if (desc0) col("z_0").desc else col("z_0").asc) +:
        keys.map(kv => col(kv._1).asc_nulls_last)
      agged.orderBy(ordCols: _*).limit(k)
    }
    (sql, df)
  }

  /** two-level aggregation: inner per-(k1, k2) counts, outer re-agg on
    * k2 — integer algebra throughout, exact on both engines */
  private def shapeNestedAgg(rng: Random, t: FTable): (String,
      (SparkSession, String) => DataFrame) = {
    val p = predicate(rng, t)
    val k1 = groupKey(rng, t, 0)
    val k2 = groupKey(rng, t, 1)
    val sql = s"SELECT k_1, CAST(sum(c) AS BIGINT) AS z_0, " +
      s"count(*) AS z_1, CAST(max(c) AS BIGINT) AS z_2 FROM (" +
      s"SELECT ${k1._2.sql} AS k_0, ${k2._2.sql} AS k_1, count(*) AS c " +
      s"FROM ${t.name} WHERE ${p.sql} GROUP BY ${k1._2.sql}, ${k2._2.sql}" +
      s") sub GROUP BY k_1"
    val df = (s: SparkSession, dir: String) =>
      load(s, dir, t.name).filter(p.col)
        .groupBy(k1._2.col.as("k_0"), k2._2.col.as("k_1"))
        .agg(count(lit(1)).as("c"))
        .groupBy("k_1")
        .agg(sum(col("c")).cast("long").as("z_0"),
          count(lit(1)).as("z_1"), max(col("c")).cast("long").as("z_2"))
    (sql, df)
  }

  /** GROUP BY ROLLUP — subtotal/grand-total rows with null keys; the
    * aggregates stay integer-exact so subtotal rows (which share null
    * key values with each other) sort deterministically by value */
  private def shapeRollup(rng: Random, t: FTable): (String,
      (SparkSession, String) => DataFrame) = {
    val p = predicate(rng, t)
    val groupables = t.cols.filter(_.groupable)
    val src = if (groupables.size >= 2) groupables else t.cols.filter(_.domain.isDefined)
    val ks = Seq.fill(2)(pick(rng, src)).distinctBy(_.name) match {
      case Seq(one) => Seq(one, src.find(_.name != one.name).getOrElse(one))
      case more => more.take(2)
    }
    val ints = t.cols.filter(_.typ == TInt)
    val aggSql = if (ints.nonEmpty) {
      val c = pick(rng, ints)
      (s"CAST(sum(${c.name}) AS BIGINT)", sum(col(c.name)).cast("long"))
    } else ("count(*)", count(lit(1)))
    val names = ks.map(_.name).distinct
    // REAL cross-engine divergence, found by this fuzzer (seed 42
    // idx 110/265/318/319/456/499): over EMPTY input, the ANSI empty
    // grouping set yields one grand-total row (count 0) — DuckDB and
    // PostgreSQL emit it — while Spark's Expand-based rollup emits
    // ZERO rows. Recorded in BASELINE r14; the generated cases pin the
    // agreed subset via HAVING count(*) > 0 on BOTH emissions (a no-op
    // on every non-empty group, drops only the empty-input total).
    val sql = s"SELECT ${names.mkString(", ")}, ${aggSql._1} AS z_0, " +
      s"count(*) AS z_1 FROM ${t.name} WHERE ${p.sql} " +
      s"GROUP BY ROLLUP(${names.mkString(", ")}) HAVING count(*) > 0"
    val df = (s: SparkSession, dir: String) =>
      load(s, dir, t.name).filter(p.col)
        .rollup(names.map(col): _*)
        .agg(aggSql._2.as("z_0"), count(lit(1)).as("z_1"))
        .filter(col("z_1") > 0)
    (sql, df)
  }

  /** FK join chain (1–2 hops, inner/left with filtered right subquery)
    * + aggregate over columns from any table in the chain */
  private def shapeJoinAgg(rng: Random, idx: Int): (String,
      (SparkSession, String) => DataFrame) = {
    val first = pick(rng, joinEdges)
    val hops = scala.collection.mutable.ArrayBuffer(first)
    if (rng.nextBoolean()) {
      val nexts = joinEdges.filter(e => e._1 == first._2)
      if (nexts.nonEmpty) hops += pick(rng, nexts)
    }
    val root = byName(hops.head._1)
    val rootPred = predicate(rng, root)
    // per-hop: join type + optional right-side filter (the outer-null
    // generator when the type is LEFT)
    val hopSpecs = hops.toSeq.zipWithIndex.map { case ((_, rt, lk, rk), i) =>
      val right = byName(rt)
      val leftJoin = rng.nextInt(3) == 0
      val rp = if (rng.nextBoolean()) Some(predicate(rng, right)) else None
      (right, lk, rk, leftJoin, rp, s"sub$i")
    }
    val allTables = root +: hopSpecs.map(_._1)
    val keySrc = pick(rng, allTables.filter(_.cols.exists(_.groupable)))
    val nKeys = 1 + rng.nextInt(2)
    val keys = (0 until nKeys).map(i => groupKey(rng, keySrc, i))
    val aggSrc = pick(rng, allTables)
    val nAggs = 1 + rng.nextInt(2)
    val aggs = (0 until nAggs).map(i => aggregate(rng, aggSrc, i))
    val fromSql = hopSpecs.foldLeft(root.name) {
      case (acc, (right, lk, rk, leftJ, rp, alias)) =>
        val rsub = rp match {
          case Some(pr) => s"(SELECT * FROM ${right.name} WHERE ${pr.sql}) AS $alias"
          case None => right.name
        }
        s"$acc ${if (leftJ) "LEFT JOIN" else "JOIN"} $rsub ON $lk = $rk"
    }
    val selSql = (keys.map { case (a, e) => s"${e.sql} AS $a" } ++
      aggs.map { case (a, e) => s"${e.sql} AS $a" }).mkString(", ")
    val sql = s"SELECT $selSql FROM $fromSql WHERE ${rootPred.sql} " +
      s"GROUP BY ${keys.map(_._2.sql).mkString(", ")}"
    val df = (s: SparkSession, dir: String) => {
      val joined = hopSpecs.foldLeft(
        load(s, dir, root.name).filter(rootPred.col)) {
        case (acc, (right, lk, rk, leftJ, rp, _)) =>
          val r0 = load(s, dir, right.name)
          val r = rp.map(pr => r0.filter(pr.col)).getOrElse(r0)
          acc.join(r, col(lk) === col(rk), if (leftJ) "left" else "inner")
      }
      val aggCols = aggs.map { case (a, e) => e.col.as(a) }
      joined.groupBy(keys.map { case (a, e) => e.col.as(a) }: _*)
        .agg(aggCols.head, aggCols.tail: _*)
    }
    (sql, df)
  }

  /** EXISTS / NOT EXISTS (DataFrame side: left_semi / left_anti) */
  private def shapeSemiAnti(rng: Random): (String,
      (SparkSession, String) => DataFrame) = {
    val (lt, rt, lk, rk) = pick(rng, joinEdges)
    val left = byName(lt); val right = byName(rt)
    val lp = predicate(rng, left)
    val rp = predicate(rng, right)
    val anti = rng.nextBoolean()
    val nBase = 1 + rng.nextInt(3)
    val baseCols = (Seq.fill(nBase)(pick(rng, left.cols)) :+
      left.cols.head).distinctBy(_.name)
    val ex = s"EXISTS (SELECT 1 FROM ${right.name} WHERE $rk = $lk AND ${rp.sql})"
    val sql = s"SELECT ${baseCols.map(_.name).mkString(", ")} FROM ${left.name} " +
      s"WHERE ${lp.sql} AND ${if (anti) s"NOT $ex" else ex} " +
      s"ORDER BY ${left.uniq.mkString(", ")} LIMIT $RowCap"
    val df = (s: SparkSession, dir: String) => {
      val r = load(s, dir, right.name).filter(rp.col).select(col(rk))
      load(s, dir, left.name).filter(lp.col)
        .join(r, col(lk) === col(rk), if (anti) "left_anti" else "left_semi")
        .orderBy(left.uniq.map(col): _*).limit(RowCap)
        .select(baseCols.map(c => col(c.name)): _*)
    }
    (sql, df)
  }

  /** window functions over a filtered table; peer-order-sensitive
    * functions order by the unique key, rank/dense_rank may tie */
  private def shapeWindow(rng: Random, t: FTable): (String,
      (SparkSession, String) => DataFrame) = {
    val p = predicate(rng, t)
    val groupables = t.cols.filter(_.groupable)
    val g = if (groupables.nonEmpty && rng.nextBoolean())
      Some(pick(rng, groupables)) else None
    val partSql = g.map(c => s"PARTITION BY ${c.name} ").getOrElse("")
    val wUniq = Window.partitionBy(g.map(c => Seq(col(c.name)))
      .getOrElse(Seq(lit(1))): _*).orderBy(t.uniq.map(col): _*)
    val uniqSql = t.uniq.mkString(", ")
    val x = pick(rng, t.cols.filter(c =>
      c.typ == TInt || c.typ == TDouble))
    val rankCol = pick(rng, t.cols.filter(_.domain.isDefined))
    val winExprs = scala.collection.mutable.ArrayBuffer.empty[(String, Column)]
    rng.nextInt(3) match {
      case 0 => winExprs += ((s"row_number() OVER (${partSql}ORDER BY $uniqSql)",
        row_number().over(wUniq)))
      case 1 => winExprs += ((s"rank() OVER (${partSql}ORDER BY ${rankCol.name})",
        rank().over(Window.partitionBy(g.map(c => Seq(col(c.name)))
          .getOrElse(Seq(lit(1))): _*).orderBy(col(rankCol.name)))))
      case _ => winExprs += ((s"dense_rank() OVER (${partSql}ORDER BY ${rankCol.name})",
        dense_rank().over(Window.partitionBy(g.map(c => Seq(col(c.name)))
          .getOrElse(Seq(lit(1))): _*).orderBy(col(rankCol.name)))))
    }
    if (rng.nextBoolean())
      winExprs += ((s"lag(${x.name}, 1) OVER (${partSql}ORDER BY $uniqSql)",
        lag(col(x.name), 1).over(wUniq)))
    if (rng.nextBoolean()) {
      val sumSql = if (x.typ == TInt)
        s"CAST(sum(${x.name}) OVER (${partSql}ORDER BY $uniqSql " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)"
      else s"sum(${x.name}) OVER (${partSql}ORDER BY $uniqSql " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
      val sumCol0 = sum(col(x.name)).over(
        wUniq.rowsBetween(Window.unboundedPreceding, Window.currentRow))
      winExprs += ((sumSql,
        if (x.typ == TInt) sumCol0.cast("long") else sumCol0))
    }
    val intOrd = t.cols.filter(c => c.typ == TInt && c.domain.isDefined)
    if (intOrd.nonEmpty && rng.nextBoolean()) {
      // RANGE frame over ONE integer order column: peers (ties) are all
      // included, so the frame is deterministic on both engines even
      // where the order is not total
      val oc = pick(rng, intOrd)
      val w = 1 + rng.nextInt(1000)
      val wRange = Window.partitionBy(g.map(c => Seq(col(c.name)))
        .getOrElse(Seq(lit(1))): _*).orderBy(col(oc.name))
        .rangeBetween(-w.toLong, 0L)
      val rSql = s"CAST(sum(${x.name}) OVER (${partSql}ORDER BY ${oc.name} " +
        s"RANGE BETWEEN $w PRECEDING AND CURRENT ROW) AS BIGINT)"
      val rCol = sum(col(x.name).cast("long")).over(wRange).cast("long")
      winExprs += ((if (x.typ == TInt) rSql
        else s"sum(${x.name}) OVER (${partSql}ORDER BY ${oc.name} " +
          s"RANGE BETWEEN $w PRECEDING AND CURRENT ROW)",
        if (x.typ == TInt) rCol
        else sum(col(x.name)).over(wRange)))
    }
    val winSel = winExprs.zipWithIndex
      .map { case ((s0, _), i) => s"$s0 AS z_$i" }
    val selBase = (t.uniq ++ g.map(_.name).toSeq).distinct
    val sql = s"SELECT ${(selBase ++ winSel).mkString(", ")} FROM ${t.name} " +
      s"WHERE ${p.sql} ORDER BY $uniqSql LIMIT $RowCap"
    val df = (s: SparkSession, dir: String) =>
      load(s, dir, t.name).filter(p.col)
        .select(selBase.map(col) ++ winExprs.zipWithIndex
          .map { case ((_, c), i) => c.as(s"z_$i") }: _*)
        .orderBy(t.uniq.map(col): _*).limit(RowCap)
    (sql, df)
  }

  /** UNION ALL / INTERSECT / EXCEPT of two differently-filtered
    * projections of one table; ORDER BY every projected column gives the
    * LIMIT a total order (projected base columns are never null) */
  private def shapeSetOp(rng: Random, t: FTable): (String,
      (SparkSession, String) => DataFrame) = {
    val nBase = 1 + rng.nextInt(3)
    val baseCols = (Seq.fill(nBase)(pick(rng, t.cols)) :+ t.cols.head)
      .distinctBy(_.name).filter(_.typ != TDouble) match {
      // all-double projections still order totally (they're exact
      // parquet values), but keep at least one non-double anchor
      case Nil => Seq(t.cols.head)
      case cs => cs
    }
    val (p1, p2) = (predicate(rng, t), predicate(rng, t))
    val op = pick(rng, Seq("UNION ALL", "INTERSECT", "EXCEPT"))
    val names = baseCols.map(_.name)
    val sel = names.mkString(", ")
    val sql = s"(SELECT $sel FROM ${t.name} WHERE ${p1.sql}) $op " +
      s"(SELECT $sel FROM ${t.name} WHERE ${p2.sql}) " +
      s"ORDER BY $sel LIMIT $RowCap"
    val df = (s: SparkSession, dir: String) => {
      val a = load(s, dir, t.name).filter(p1.col).select(names.map(col): _*)
      val b = load(s, dir, t.name).filter(p2.col).select(names.map(col): _*)
      val u = op match {
        case "UNION ALL" => a.unionAll(b)
        case "INTERSECT" => a.intersect(b)
        case _ => a.except(b)
      }
      u.orderBy(names.map(col): _*).limit(RowCap)
    }
    (sql, df)
  }

  /** SELECT DISTINCT over base columns */
  private def shapeDistinct(rng: Random, t: FTable): (String,
      (SparkSession, String) => DataFrame) = {
    val groupables = t.cols.filter(_.groupable)
    val src = if (groupables.nonEmpty) groupables else t.cols
    val nBase = 1 + rng.nextInt(math.min(3, src.size))
    val baseCols = Seq.fill(nBase)(pick(rng, src)).distinctBy(_.name)
    val p = predicate(rng, t)
    val names = baseCols.map(_.name)
    val sql = s"SELECT DISTINCT ${names.mkString(", ")} FROM ${t.name} " +
      s"WHERE ${p.sql} ORDER BY ${names.mkString(", ")} LIMIT $RowCap"
    val df = (s: SparkSession, dir: String) =>
      load(s, dir, t.name).filter(p.col).select(names.map(col): _*)
        .distinct().orderBy(names.map(col): _*).limit(RowCap)
    (sql, df)
  }

  // ---------------------------------------------------------- generator

  /** deterministic per-(seed, index) — a diverging case reproduces and
    * pins from those two numbers alone */
  def genCase(seed: Long, index: Int): FuzzCase = {
    val rng = new Random(seed ^ (index.toLong * 0x9E3779B97F4A7C15L))
    val t = pick(rng, tables)
    val (sql, df) = rng.nextInt(14) match {
      case 0 | 1 => shapeScan(rng, t)
      case 2 | 3 => shapeAgg(rng, t)
      case 4 | 5 => shapeJoinAgg(rng, index)
      case 6 => shapeSemiAnti(rng)
      case 7 | 12 => shapeWindow(rng, t)
      case 8 => if (rng.nextBoolean()) shapeSetOp(rng, t)
        else shapeDistinct(rng, t)
      case 9 => shapeAggTopK(rng, t)
      case 10 => shapeNestedAgg(rng, t)
      case 11 => shapeRollup(rng, t)
      case _ => shapeAgg(rng, t)
    }
    FuzzCase(f"fz$index%04d", seed, index, sql, df)
  }

  def cases(seed: Long, n: Int): Seq[FuzzCase] =
    (0 until n).map(genCase(seed, _))
}

/** Dump `n` seeded fuzz cases in the exact layout
  * `tools/check_oracle.py` consumes: one result parquet dir per case
  * plus `oracle_sql.json` — the cross-engine DuckDB leg of the
  * differential gate.
  *
  * Usage: FuzzHarness <sfDir> <outDir> [seed] [n]
  * Then:  python3 tools/check_oracle.py <sfDir> <outDir>
  */
object FuzzHarness {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val seed = if (args.length > 2) args(2).toLong else 42L
    val n = if (args.length > 3) args(3).toInt else 500
    // SPARK_GRAFT_MASTER=local-cluster[n,c,mem] re-runs the same cases
    // with executors in separate JVMs — partitioning/serialization
    // sensitivity sweep
    val spark = graft.GraftSession.local(graft.GraftSession.cpus,
      graft.GraftSession.masterFromEnv)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val all = Fuzz.cases(seed, n)
    var failed = 0
    all.foreach { c =>
      val target = new java.io.File(s"$outDir/${c.name}")
      if (target.exists()) graft.util.Fs.rmTree(target)
      try c.df(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${c.name}")
      catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[fuzz] ${c.name} (seed=${c.seed} idx=${c.index}) " +
          s"FAILED: ${e.getClass.getSimpleName}: " +
          s"${Option(e.getMessage).getOrElse("").take(300)}\n  sql: ${c.sql}")
      }
    }
    def q(s: String): String = graft.util.Json.str(s)
    val json = all.map(c => s"${q(c.name)}: ${q(c.sql)}")
      .mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), json)
    println(s"[fuzz] ${n - failed}/$n cases dumped OK (seed=$seed); " +
      s"now run: python3 tools/check_oracle.py $sfDir $outDir")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
