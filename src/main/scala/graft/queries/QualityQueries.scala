package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-quality / auditing operators — the profiling layer every
  * large-scale pipeline runs before (and after) transformation jobs.
  * The reference's users keep an analytical replica in sync
  * (README.md:88-99); these are the audits run against such a replica:
  * column profiling, referential-integrity checks, and fuzzy record
  * linkage.
  *
  * Scale notes (100 TB):
  *  - the profiler is ONE scan regardless of column count (a single
  *    hash-free global aggregate producing all per-column stats, then a
  *    zero-shuffle `stack` unpivot of the one result row) — never a
  *    job-per-column loop;
  *  - FK checks broadcast the true dimension sides and leave
  *    fact⋈fact anti-joins as shuffles on the join key (the only shape
  *    that survives when both sides are large); uniqueness checks are
  *    plain partial+final aggregates;
  *  - fuzzy linkage NEVER goes all-pairs: candidates come from a
  *    blocked equi-join on (blocking token, length) with the standard
  *    ±d length-replication trick — edit distance ≤ d implies
  *    |len(a)−len(b)| ≤ d, so replicating one side's length key d
  *    positions up/down keeps the join an equi-join while guaranteeing
  *    no candidate is missed. The expensive `levenshtein` verify runs
  *    only on blocked candidates.
  */
object QualityQueries {

  type QFn = (SparkSession, String) => DataFrame

  /** Lineitem columns profiled by q46 (numeric only: min/max cast to
    * double is engine-portable; string min/max collation is not).
    */
  private val ProfileCols = Seq(
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** SIZE-CONDITIONAL broadcast hint (r16, guide §3.1): an
    * unconditional `broadcast()` on an FK parent's key set pins a plan
    * that dies at 100 TB — billions of parent keys blow the 8 GB /
    * 512M-row broadcast cap. Hint only when the pruned key projection's
    * optimizer size estimate is provably small (driver-side plan
    * metadata, no job); above the bound the planner chooses from real
    * sizes (AQE still converts to broadcast at runtime if the actual
    * distinct output is tiny). 256 MB bound: comfortably broadcastable,
    * far above every bench-scale dimension, far below the cap.
    */
  private def hintIfSmall(df: DataFrame): DataFrame = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est >= 0 && est <= BigInt(256L << 20)) broadcast(df) else df
  }

  val defs: Map[String, QFn] = Map(
    // --- q46: one-pass column profiler --------------------------------
    // All per-column stats (null count, min, max) and the row count in
    // a SINGLE global aggregate — one scan, one reduce — then the one
    // result row unpivots via stack() into a row per column. At 100 TB
    // the naive per-column loop is k full scans; this is always one.
    "q46_profile" -> { (s, dir) =>
      val t = Tables(s, dir)
      val aggs = ProfileCols.flatMap { c =>
        Seq(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
          min(col(c).cast("double")).as(s"${c}__min"),
          max(col(c).cast("double")).as(s"${c}__max"))
      } :+ count(lit(1)).as("__rows")
      val one = t.lineitem.agg(aggs.head, aggs.tail: _*)
      val stacked = ProfileCols
        .map(c => s"'$c', ${c}__nulls, ${c}__min, ${c}__max")
        .mkString(s"stack(${ProfileCols.size}, ", ", ", ")")
      one.select(expr(s"$stacked as (col_name, n_nulls, min_v, max_v)"),
          col("__rows").as("n_rows"))
        .orderBy("col_name")
    },

    // --- q47: referential-integrity + uniqueness audit ----------------
    // One output row per declared constraint. r15 (guide §1.2, fewer
    // passes): the old shape ran each FK leg as its own anti-join PLUS
    // its own count(*), scanning lineitem SIX times (3 legs × orphans
    // + total); all three lineitem FK checks now ride ONE scan — three
    // existence left joins against DEDUPLICATED parent keys (dedup
    // keeps the null-flag count equal to the anti-join count even if a
    // parent key were duplicated) folded into a single aggregate. At
    // 100 TB this is 1 fact pass instead of 6. PK-uniqueness legs are
    // unchanged one-pass aggregates; results are bit-identical.
    "q47_fk_check" -> { (s, dir) =>
      import s.implicits._
      val t = Tables(s, dir)
      val li3 = t.lineitem
        .select($"l_orderkey", $"l_partkey", $"l_suppkey")
        .join(t.orders.select($"o_orderkey").distinct(),
          $"l_orderkey" === $"o_orderkey", "left")
        .join(hintIfSmall(t.part.select($"p_partkey").distinct()),
          $"l_partkey" === $"p_partkey", "left")
        .join(hintIfSmall(t.supplier.select($"s_suppkey").distinct()),
          $"l_suppkey" === $"s_suppkey", "left")
        .agg(count(lit(1)).as("n_child"),
          sum(when($"o_orderkey".isNull, 1L).otherwise(0L)).as("v_orders"),
          sum(when($"p_partkey".isNull, 1L).otherwise(0L)).as("v_part"),
          sum(when($"s_suppkey".isNull, 1L).otherwise(0L)).as("v_supplier"))
      val liLegs = li3.select(expr(
        """stack(3,
          |  'fk_lineitem_orders',   n_child, v_orders,
          |  'fk_lineitem_part',     n_child, v_part,
          |  'fk_lineitem_supplier', n_child, v_supplier)
          |  AS (check_name, n_child, n_violations)""".stripMargin))
      def fk(name: String, child: DataFrame, childKey: String,
          parent: DataFrame, parentKey: String): DataFrame = {
        val p = parent.select(col(parentKey))
        val orphans = child
          .join(hintIfSmall(p), col(childKey) === col(parentKey), "left_anti")
          .agg(count(lit(1)).as("n_violations"))
        val total = child.agg(count(lit(1)).as("n_child"))
        orphans.crossJoin(total)
          .select(lit(name).as("check_name"), $"n_child", $"n_violations")
      }
      def unique(name: String, tbl: DataFrame, key: String): DataFrame =
        tbl.agg(count(lit(1)).as("n_child"),
            (count(lit(1)) - count_distinct(col(key))).as("n_violations"))
          .select(lit(name).as("check_name"), $"n_child",
            $"n_violations".cast("long").as("n_violations"))
      Seq(
        liLegs,
        fk("fk_orders_customer", t.orders, "o_custkey",
          t.customer, "c_custkey"),
        unique("pk_orders", t.orders, "o_orderkey"),
        unique("pk_part", t.part, "p_partkey"),
        unique("pk_customer", t.customer, "c_custkey"))
        .reduce(_.unionByName(_))
        .orderBy("check_name")
    },

    // --- q48: blocked fuzzy self-join (record linkage) ----------------
    // Two-level design. (1) DICTIONARY: fuzzy matching runs over
    // DISTINCT names only — duplicate values make row-level pairing
    // quadratic in the duplicate count (at sf0.1 the fixture has 64
    // distinct names across 20k rows = 24M row-level candidates; at
    // 100 TB a row-level fuzzy self-join is unrunnable), while the
    // dictionary is vocabulary-sized and the row-pair counts expand
    // back by arithmetic on per-name counts. (2) BLOCKED candidates
    // over the dictionary: equi-join on (first token, length) with the
    // probe side's length key replicated ±2 — edit distance ≤ 2 ⇒
    // length gap ≤ 2, so the equi-join provably misses nothing within
    // a token block; the codegen'd levenshtein verify touches blocked
    // dictionary candidates only. Row-pair expansion: cnt_a·cnt_b for
    // a cross-name match, C(cnt,2) for the same name (d=0 is exactly
    // the same-name case, since distinct names have d ≥ 1).
    "q48_fuzzy_join" -> { (s, dir) =>
      import s.implicits._
      val t = Tables(s, dir)
      val names = t.part.groupBy($"p_name").agg(count(lit(1)).as("cnt"))
        .withColumn("tok", split($"p_name", " ").getItem(0))
        .withColumn("len", length($"p_name"))
      val a = names
        .withColumn("lb", explode(array(
          $"len" - 2, $"len" - 1, $"len", $"len" + 1, $"len" + 2)))
        .select($"p_name".as("a_name"), $"cnt".as("a_cnt"),
          $"tok".as("a_tok"), $"lb")
      val b = names.select($"p_name".as("b_name"), $"cnt".as("b_cnt"),
        $"tok".as("b_tok"), $"len".as("b_len"))
      val cross = a.join(b, $"a_tok" === $"b_tok" && $"lb" === $"b_len" &&
          $"a_name" < $"b_name")
        .withColumn("d", levenshtein($"a_name", $"b_name"))
        .where($"d" <= 2)
        .select($"a_tok".as("block"), $"d", ($"a_cnt" * $"b_cnt").as("pairs"))
      val same = names.filter($"cnt" > 1)
        .select($"tok".as("block"), lit(0).as("d"),
          // integer DIV: `/` on longs is floating division in Spark
          expr("cnt * (cnt - 1) DIV 2").as("pairs"))
      cross.unionByName(same)
        .groupBy($"block")
        .agg(sum($"pairs").as("n_pairs"),
          sum(when($"d" === 0, $"pairs").otherwise(0L)).as("n_exact"),
          sum(when($"d" === 1, $"pairs").otherwise(0L)).as("n_dist1"),
          sum(when($"d" === 2, $"pairs").otherwise(0L)).as("n_dist2"))
        .orderBy("block")
    },

    // --- q49: hierarchy closure + subtree rollup (pointer doubling) ----
    // The recursive-hierarchy aggregate SQL engines answer with a
    // recursive CTE (org charts, category trees, BOM rollups): a
    // deterministic forest over customers (parent = custkey DIV 10,
    // keys < 10 are roots) expands to its full ancestor closure, then
    // every node reports its subtree size/balance, its depth, and its
    // root. Spark has no recursive CTE; the linear-iteration port runs
    // one join PER LEVEL (depth jobs — a 20-deep hierarchy at 100 TB is
    // 20 chained shuffles). This uses POINTER DOUBLING instead:
    // composing the closure with itself doubles covered path lengths
    // every round, so ceil(log2(depth)) keyed equi-join rounds cover
    // the whole closure — 3 rounds where iteration needs 20. Each round
    // is a plain (anc = node) equi-join + per-(node, anc) dedupe, all
    // distributed; the closure is |V|·depth rows, never quadratic. The
    // oracle is DuckDB's actual recursive CTE — two different
    // algorithms, bit-identical fixpoint.
    "q49_hierarchy_rollup" -> { (s, dir) =>
      import s.implicits._
      val c = Tables(s, dir).customer
        .select($"c_custkey".cast("long").as("k"),
          Q.cents($"c_acctbal").as("bal"))
      val base = c.filter($"k" >= 10)
        .select($"k".as("node"), expr("k DIV 10").as("anc"), lit(1L).as("dist"))
      // parent drops one decimal digit, so depth <= digits(maxKey) - 1;
      // doubling covers it in ceil(log2(depth)) rounds (bounded driver
      // scalar, one tiny agg job)
      val maxKey = c.agg(max($"k")).head().getLong(0)
      val maxDepth = math.max(1L, maxKey.toString.length.toLong - 1L)
      val rounds =
        if (maxDepth <= 1L) 0
        else 64 - java.lang.Long.numberOfLeadingZeros(maxDepth - 1L)
      var clos = base
      var dropClos: () => Unit = () => ()
      for (r <- 1 to rounds) {
        val doubled = clos.as("x").join(clos.as("y"),
            col("x.anc") === col("y.node"))
          .select(col("x.node").as("node"), col("y.anc").as("anc"),
            (col("x.dist") + col("y.dist")).as("dist"))
        // tree paths are unique, so min(dist) is just dedupe of the
        // overlapping half-splits a doubling round generates
        clos = clos.unionByName(doubled)
          .groupBy($"node", $"anc").agg(min($"dist").as("dist"))
        // truncate lineage on DEEP hierarchies (r16): each round
        // references the previous closure THREE times (self-join x/y +
        // the union), so the lazy plan grows 3^rounds copies of the
        // base — runtime dedupes via exchange reuse, but planning and
        // AQE re-optimization pay the full tree per round, and a
        // deeper hierarchy (one more round per ~3 decades of keys)
        // cubes it again. From THREE rounds up (27+ copies) every
        // intermediate closure materializes
        // (per-invocation parquet, built inside every timed run, no
        // cross-run reuse), capping the plan depth; measured 7.2 → 3.7
        // s / 26 → 21 jobs at the 10× decade (rounds = 3). A 2-round
        // closure (9 copies — every bench-scale fixture) plans fine and
        // pays no write; the last round always stays lazy so the
        // downstream rollup fuses with it. Each artifact is deleted as
        // soon as the next closure's write has read it; the last one
        // feeds the returned frame and goes once no plan can read it
        // (IndexArtifacts.materializeScoped), so timed runs do not
        // accrete scratch datasets.
        if (rounds >= 3 && r < rounds) {
          val (m, drop) =
            graft.llm.IndexArtifacts.materializeScoped(s, clos, "q49-clos")
          dropClos()
          clos = m
          dropClos = drop
        }
      }
      val withSelf = clos.unionByName(
        c.select($"k".as("node"), $"k".as("anc"), lit(0L).as("dist")))
      val subtree = withSelf
        .join(c.select($"k".as("node"), $"bal"), "node")
        .groupBy($"anc")
        .agg(count(lit(1)).as("n_subtree"), sum($"bal").as("subtree_bal_cents"))
      val rootDepth = withSelf.groupBy($"node")
        .agg(max($"dist").as("depth"), max_by($"anc", $"dist").as("root_key"))
      subtree.join(rootDepth, subtree("anc") === rootDepth("node"))
        .select($"node".as("c_custkey"), $"n_subtree", $"subtree_bal_cents",
          $"depth", $"root_key")
        .orderBy($"c_custkey")
    })

  val oracles: Map[String, String] = Map(
    "q46_profile" ->
      ProfileCols.map { c =>
        s"""SELECT '$c' AS col_name,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  min(CAST($c AS DOUBLE)) AS min_v,
           |  max(CAST($c AS DOUBLE)) AS max_v,
           |  count(*) AS n_rows
           |FROM lineitem""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name"),

    "q47_fk_check" ->
      """SELECT * FROM (
        |  SELECT 'fk_lineitem_orders' AS check_name,
        |    (SELECT count(*) FROM lineitem) AS n_child,
        |    (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN
        |      (SELECT o_orderkey FROM orders)) AS n_violations
        |  UNION ALL
        |  SELECT 'fk_lineitem_part',
        |    (SELECT count(*) FROM lineitem),
        |    (SELECT count(*) FROM lineitem WHERE l_partkey NOT IN
        |      (SELECT p_partkey FROM part))
        |  UNION ALL
        |  SELECT 'fk_lineitem_supplier',
        |    (SELECT count(*) FROM lineitem),
        |    (SELECT count(*) FROM lineitem WHERE l_suppkey NOT IN
        |      (SELECT s_suppkey FROM supplier))
        |  UNION ALL
        |  SELECT 'fk_orders_customer',
        |    (SELECT count(*) FROM orders),
        |    (SELECT count(*) FROM orders WHERE o_custkey NOT IN
        |      (SELECT c_custkey FROM customer))
        |  UNION ALL
        |  SELECT 'pk_orders', (SELECT count(*) FROM orders),
        |    (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders)
        |  UNION ALL
        |  SELECT 'pk_part', (SELECT count(*) FROM part),
        |    (SELECT count(*) - count(DISTINCT p_partkey) FROM part)
        |  UNION ALL
        |  SELECT 'pk_customer', (SELECT count(*) FROM customer),
        |    (SELECT count(*) - count(DISTINCT c_custkey) FROM customer)
        |) ORDER BY check_name""".stripMargin,

    "q48_fuzzy_join" ->
      """SELECT split_part(a.p_name, ' ', 1) AS block,
        |  count(*) AS n_pairs,
        |  CAST(sum(CASE WHEN levenshtein(a.p_name, b.p_name) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
        |  CAST(sum(CASE WHEN levenshtein(a.p_name, b.p_name) = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dist1,
        |  CAST(sum(CASE WHEN levenshtein(a.p_name, b.p_name) = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dist2
        |FROM part a JOIN part b
        |  ON split_part(a.p_name, ' ', 1) = split_part(b.p_name, ' ', 1)
        | AND abs(length(a.p_name) - length(b.p_name)) <= 2
        | AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 2
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q49_hierarchy_rollup" ->
      """WITH RECURSIVE anc AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS node,
        |    CAST(c_custkey AS BIGINT) // 10 AS anc, CAST(1 AS BIGINT) AS dist
        |  FROM customer WHERE c_custkey >= 10
        |  UNION ALL
        |  SELECT a.node, a.anc // 10, a.dist + 1 FROM anc a WHERE a.anc >= 10
        |),
        |withself AS (
        |  SELECT node, anc, dist FROM anc
        |  UNION ALL
        |  SELECT CAST(c_custkey AS BIGINT), CAST(c_custkey AS BIGINT),
        |    CAST(0 AS BIGINT) FROM customer
        |),
        |bal AS (SELECT CAST(c_custkey AS BIGINT) AS k,
        |  CAST(round(c_acctbal * 100) AS BIGINT) AS bal FROM customer),
        |sub AS (
        |  SELECT w.anc, count(*) AS n_subtree,
        |    CAST(sum(b.bal) AS BIGINT) AS subtree_bal_cents
        |  FROM withself w JOIN bal b ON w.node = b.k GROUP BY w.anc),
        |rd AS (
        |  SELECT node, CAST(max(dist) AS BIGINT) AS depth,
        |    arg_max(anc, dist) AS root_key
        |  FROM withself GROUP BY node)
        |SELECT s.anc AS c_custkey, s.n_subtree, s.subtree_bal_cents,
        |  rd.depth, rd.root_key
        |FROM sub s JOIN rd ON s.anc = rd.node ORDER BY 1""".stripMargin)
}
