package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators.{AsOfJoin, Bucketing, CdcMaterializer, ChoiceResolver, Clustering, Dedup, FingerprintIndex, Merge, PassageDedup, RangeJoin, Similarity, StreamSplitter}
import graft.functions.{PortableHash, TextFunctions => T}
import graft.multimodal.Multimodal

/**
 * Driver contract — one `queries` entry per implemented operator from
 * SURVEY.md §2 (+ the training-data-pipeline extensions), each with a
 * DuckDB-equivalent `oracleSql` where SQL-expressible.
 *
 * Cross-engine determinism rules used throughout:
 *  - money/double aggregation goes through DECIMAL(18,2) (exact, order-
 *    independent) and is cast back to double at the end — both engines
 *    produce bit-identical results;
 *  - every query ends in ORDER BY with a unique tiebreak;
 *  - computed integer columns are cast so Spark and DuckDB dtypes agree
 *    (DuckDB len()/year()/sum(int) default to BIGINT/HUGEINT).
 */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Per-JVM scratch token + exit cleanup for queries that write local
    * scratch data (q95): concurrent driver processes get disjoint dirs. */
  private lazy val jvmToken: String = {
    val tok = java.util.UUID.randomUUID().toString.take(8)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      val tmp = new java.io.File(sys.props("java.io.tmpdir"))
      Option(tmp.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(s"_$tok"))
        .foreach(deleteRecursively)
    }))
    tok
  }
  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(); ()
  }

  /** Drop every table of the current database whose name holds `marker`
    * and delete the warehouse entries whose name holds it (a bucketed
    * signature store's `<table>__dlog` op log is a warehouse sibling,
    * not a table). */
  private[graft] def dropScratch(spark: SparkSession, marker: String): Unit = {
    spark.catalog.listTables().collect().map(_.name).filter(_.contains(marker))
      .foreach(n => spark.sql(s"DROP TABLE IF EXISTS `$n`"))
    val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(wh))
      fs.listStatus(wh).map(_.getPath).filter(_.getName.contains(marker))
        .foreach(fs.delete(_, true))
  }

  /** Drop the catalog tables this JVM's queries created (their names
    * carry the per-JVM token), so repeated runs do not grow the
    * warehouse. */
  def dropScratchTables(spark: SparkSession): Unit = dropScratch(spark, jvmToken)

  /** (doc_id, entropy): exact char-frequency entropy — explode →
    * (doc, char) count → bounded sorted fold. The one definition behind
    * q69 AND q92's entropy feature (and their oracles' shared CTE shape),
    * so a semantics fix propagates to both. The fold runs in the
    * codegen'd [[graft.functions.expressions.SurprisalFold]] kernel —
    * bit-identical to the HOF `aggregate` pair it replaced (spec-
    * asserted), ~10× cheaper per doc. */
  private def charEntropyPerDoc(docs: DataFrame): DataFrame = {
    val counts = docs
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("cnt"))
    counts.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("ch"), col("cnt")))).as("cc"))
      .select(col("doc_id"), graft.functions.GraftFunctions
        .graftSurprisalFold(col("cc"), lit(0.0), "entropy").as("f"))
      .select(col("doc_id"), col("f.n").as("n"), col("f.s").as("s"))
      .select(col("doc_id"),
        when(col("n") <= 0, lit(0.0))
          .otherwise(round(log2(col("n").cast("double")) - col("s") / col("n"), 4))
          .as("entropy"))
  }

  /** exact decimal view of a double column (see determinism rules). */
  private def dec(c: Column): Column = c.cast("decimal(18,2)")
  private def sumDec(c: Column): Column = sum(dec(c)).cast("double")
  /** revenue term: extendedprice * (1 - discount), decimal-exact. */
  private def revenue(price: Column, disc: Column): Column =
    sum(dec(price) * (lit(1).cast("decimal(18,2)") - dec(disc))).cast("double")

  /** Flagship: the reference's split pipeline (demux F1 + flatten P1)
    * on envelopes synthesized from `customer`. Driver checks rows>0 via
    * the one-arg form; `dir` is overridable like every query closure. */
  def entry(spark: SparkSession,
      dir: String = "/root/testdata/sf0.001"): DataFrame =
    queries("q27_split_person")(spark, dir)

  // ---- envelope synthesis for the split queries (shared by q27/entry) ----
  private def customerEnvelopes(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    c.select(
      when(col("c_custkey") % 17 === 0, lit(null))
        .otherwise(struct(col("c_custkey"), col("c_name"), col("c_acctbal")))
        .as("data"),
      struct(
        col("c_custkey").cast("string").as("timestamp"),
        when(col("c_custkey") % 17 === 0, "control").otherwise("data").as("record-type"),
        lit("load").as("operation"),
        lit("primary-key").as("partition-key-type"),
        lit("dms_sample").as("schema-name"),
        when(col("c_custkey") % 10 === 0, "other").otherwise("person").as("table-name")
      ).as("metadata"))
  }

  // lazy val, not def: a def rebuilds the whole 132-entry closure map
  // on EVERY access — Profile's timed loop and each Verify/Bench lookup
  // paid that construction per call
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---------------- core SQL surface (SURVEY §2.6/§2.7) ----------------

    // Q1-style hash aggregate with decimal-exact money sums (partial agg
    // map-side; one shuffle on the 2 group keys).
    "q01_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sumDec(col("l_quantity")).as("sum_qty"),
          sumDec(col("l_extendedprice")).as("sum_base_price"),
          revenue(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
          (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // F1-analog selective filter + projection; predicate and the 5-column
    // read schema both push into the parquet scan.
    "q02_filter_project" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.filter(col("l_quantity") > 45 && col("l_discount") >= 0.05)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_quantity"),
          (dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
            .cast("double").as("disc_price"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // multi-way join: fact lineitem ⋈ orders, dims customer/nation/region
    // broadcast; one shuffle join on the fact keys only.
    "q03_join_agg" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o  = t(s, dir, "orders")
      val c  = t(s, dir, "customer")
      val n  = t(s, dir, "nation")
      val r  = t(s, dir, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
                col("o_orderdate") < lit("1997-01-01").cast("timestamp_ntz"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(revenue(col("l_extendedprice"), col("l_discount")).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    // top-k: TakeOrderedAndProject, no full sort shuffle.
    "q04_topk" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    }),

    // window function: rank orders per customer (unique tiebreak).
    "q05_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rk"))
        .orderBy(col("o_custkey"), col("rk"))
    }),

    // q05's semantics through the engine's whole-operator Catalyst
    // extension (custom LogicalPlan + Strategy + bounded-heap SparkPlan):
    // top-3 orders per customer with NO per-partition sort.
    "q51_topk_group" -> ((s, dir) => {
      graft.operators.TopK.perGroup(
          t(s, dir, "orders")
            .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
          groupCols = Seq("o_custkey"),
          orderBy = Seq(("o_totalprice", false), ("o_orderkey", true)),
          k = 3, rankName = "rk")
        .orderBy(col("o_custkey"), col("rk"))
    }),

    // anti join (NOT EXISTS): customers with no urgent order.
    "q06_anti_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // semi join (EXISTS): customers having at least one urgent order.
    "q06b_semi_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    }),

    // set operation: INTERSECT of two order-derived key sets.
    "q07_setop" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val hi = o.filter(col("o_totalprice") > 200000).select(col("o_custkey"))
      val fin = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      hi.intersect(fin).orderBy(col("o_custkey"))
    }),

    // set operation: EXCEPT (urgent customers minus F-status customers).
    "q45_except" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      val fin = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      urgent.except(fin).orderBy(col("o_custkey"))
    }),

    // moments/statistics as explicit decimal-exact formulas (var_pop =
    // E[x²] − E[x]² over exact sums → identical doubles cross-engine).
    "q46_stats" -> ((s, dir) => {
      val x  = dec(col("l_quantity"))
      val n  = count(lit(1))
      val ex  = sum(x).cast("double") / n
      val ex2 = sum(x * x).cast("double") / n
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(n.as("n"), round(ex2 - ex * ex, 6).as("var_pop"),
          round(sqrt(ex2 - ex * ex), 6).as("stddev_pop"))
        .orderBy(col("l_returnflag"))
    }),

    // explicit GROUPING SETS (the general form under rollup/cube): per-
    // region totals, per-nation totals, and the grand total in one pass.
    "q47_grouping_sets" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT r_name, n_name, count(*) AS n_cust,
               CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
               FROM customer JOIN nation ON c_nationkey = n_nationkey
               JOIN region ON n_regionkey = r_regionkey
               GROUP BY GROUPING SETS ((r_name), (n_name), ())
               ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""")
    }),

    // full outer join: nations with few-customer vs high-balance-supplier
    // presence — unmatched rows survive from BOTH sides (post-aggregation
    // join, so each side is small and the join is broadcast-able).
    "q48_full_outer" -> ((s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_acctbal") < 0)
        .groupBy(col("c_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_cust"))
      val su = t(s, dir, "supplier").filter(col("s_acctbal") > 5000)
        .groupBy(col("s_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_supp"))
      c.join(su, Seq("nationkey"), "full_outer")
        .orderBy(col("nationkey"))
    }),

    // frame-based windows: ntile/percent_rank over a unique total order,
    // plus a value-RANGE frame (trailing-30-day spend per customer).
    "q49_window_frames" -> ((s, dir) => {
      val wTile = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      val wTrail = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
        .rangeBetween(-30, 0)
      t(s, dir, "orders")
        .withColumn("day",
          datediff(col("o_orderdate"), lit("1992-01-01").cast("timestamp_ntz"))
            .cast("int"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("day"),
          ntile(4).over(wTile).as("quartile"),
          round(percent_rank().over(wTile), 6).as("pct_rank"),
          sum(dec(col("o_totalprice"))).over(wTrail).cast("double")
            .as("trail30_spend"))
        .orderBy(col("o_orderkey"))
    }),

    // rollup aggregate over the region/nation hierarchy.
    "q08_rollup" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"), sumDec(col("c_acctbal")).as("sum_bal"))
        .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
    }),

    // scalar function suite: string/math/date kernels, all codegen'd.
    "q09_scalar" -> ((s, dir) => {
      t(s, dir, "part")
        .select(
          col("p_partkey"),
          upper(substring(col("p_name"), 1, 8)).as("name_prefix"),
          length(col("p_name")).as("name_len"),
          (dec(col("p_retailprice")) * lit(1.1).cast("decimal(3,1)"))
            .cast("double").as("inflated"),
          pmod(col("p_size"), lit(7)).as("size_mod"))
        .orderBy(col("p_partkey"))
    }),

    // distinct aggregate (expand + two-phase agg).
    "q10_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))
    }),

    // JSON payload extraction from the event stream table.
    "q11_events_json" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_type"),
          nullif(regexp_extract(col("props"), "([0-9]+)", 1), lit("")).cast("int").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    }),

    // the demux filter (F1) generalized to the events stream: route one
    // "table" (event_type) out of the multiplexed stream, drop null
    // payloads, project + derive the micro-batch minute bucket.
    "q12_demux_events" -> ((s, dir) => {
      StreamSplitter.demuxBy(t(s, dir, "events"), "event_type", "click", "props")
        .select(col("event_id"), col("user_id"), col("value"),
          expr("unix_micros(cast(ts as timestamp)) div 60000000").as("minute_bucket"))
        .orderBy(col("event_id"))
    }),

    // tumbling-window aggregation in batch form (streaming analog is
    // StreamingDemux.opCountsByWindow).
    "q13_minute_agg" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(expr("unix_micros(cast(ts as timestamp)) div 60000000").as("minute_bucket"))
        .agg(count(lit(1)).as("n"), sumDec(col("value")).as("sum_value"))
        .orderBy(col("minute_bucket"))
    }),

    // ------------- training-data pipeline: dedup / text / ANN -------------

    // exact dedup: hash-aggregate on the full text.
    "q14_dedup_exact" -> ((s, dir) => {
      Dedup.exact(t(s, dir, "documents"), "doc_id", Seq("text"))
        .select(col("keep_id"), col("n_dups"), length(col("text")).as("text_len"))
        .orderBy(col("keep_id"))
    }),

    // token counting: whitespace + BPE-ish subword proxy.
    "q15_tokens" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          T.tokenCount(col("text")).cast("long").as("n_tokens"),
          T.subwordCount(col("text")).cast("long").as("n_subwords"))
        .orderBy(col("doc_id"))
    }),

    // quality scoring: char/token stats + densities.
    "q16_quality" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          length(col("text")).cast("long").as("len_chars"),
          T.tokenCount(col("text")).cast("long").as("n_tokens"),
          T.meanTokenLen(col("text")).as("mean_tok_len"),
          T.digitRatio(col("text")).as("digit_ratio"),
          T.upperRatio(col("text")).as("upper_ratio"),
          T.stopwordRatio(col("text")).as("stopword_ratio"))
        .orderBy(col("doc_id"))
    }),

    // language ID: stopword-hit heuristic (deterministic tie priority).
    "q17_langid" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), T.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))
    }),

    // corpus stats by the labeled lang column.
    "q18_lang_stats" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"))
        .orderBy(col("lang"))
    }),

    // document fingerprint (min-shingle-hash): the portable md5-derived
    // hash makes the fingerprint cross-engine deterministic, so the
    // DuckDB oracle recomputes it from scratch — hash-green, not
    // rows-only (round-1 gap #1).
    "q19_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"), T.tokens(col("text")).as("ts"))
        .select(col("doc_id"),
          T.fingerprintPortableFromTokens(col("ts"), col("text"), 3).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // MinHash+LSH near-dup pairs — portable signatures + raw-slice band
    // keys make the whole pipeline (shingle→64 permutations→banding→
    // est-jaccard verify) cross-engine deterministic; the DuckDB oracle
    // replays it from scratch.
    "q20_minhash" -> ((s, dir) => {
      Dedup.minhashLsh(t(s, dir, "documents"), "doc_id", "text",
          numHashes = 64, bands = 8, shingleN = 5, threshold = 0.4,
          portable = true)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // the collapse→match→expand composition as a declared operator:
    // candidates generate over DISTINCT texts only (kills the hot-bucket
    // m² of exact-duplicate clusters); output contract = the uncollapsed
    // run (property-tested), so the q20 oracle replays it unchanged.
    "q72_neardup_collapsed" -> ((s, dir) => {
      Dedup.nearDupCollapsed(t(s, dir, "documents"), "doc_id", "text",
          lit(1.0), "est_jaccard")(reps =>
        Dedup.minhashLsh(reps, "doc_id", "text",
          numHashes = 64, bands = 8, shingleN = 5, threshold = 0.4,
          portable = true))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // SimHash near-dup pairs — portable 60-bit signature, banded into
    // maxHamming+1 chunks (recall-complete for the radius; round-1 bug
    // fixed), fully replayed by the DuckDB oracle.
    "q21_simhash" -> ((s, dir) => {
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
          maxHamming = 6, portable = true)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // exact n-gram Jaccard pairs via inverted shingle index (rows-only).
    "q22_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          n = 5, threshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // brute-force cosine top-k (exact ANN baseline).
    "q23_ann_brute" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // LSH-bucketed ANN with plan-time hyperplane literals — the oracle
    // replays bucketing, candidate generation, and the cosine re-rank.
    "q24_ann_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.lshTopK(e, e.filter(col("vec_id") < 10), k = 5,
          portableDim = 64)
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF-bucketed ANN: md5-picked centroid inverted lists, nprobe
    // probing — deterministic cross-engine, oracle replays end to end.
    "q50_ann_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 10), k = 5,
          nlist = 8, nprobe = 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // product-quantization ANN (ADC scan): codes-only candidate join,
    // md5-picked sub-codebooks, exact re-rank of the shortlist — the
    // compressed-embedding-store scan shape. Deterministic end to end;
    // the oracle re-derives the codebooks and replays encoding, ADC
    // scoring, and both rankings.
    "q89_ann_pq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.pqTopK(e, e.filter(col("vec_id") < 10), k = 5,
          m = 4, ksub = 8, candN = 20, dim = 64)
        .orderBy(col("query_id"), col("rank"))
    }),

    // embedding near-dup pairs over literal-plane LSH buckets — oracle
    // replays the bucketing + cosine verify.
    // bits = 0: SCALE-ADAPTIVE bucket width (Dedup.adaptiveLshBits —
    // expected bucket ≤ 256, so the per-bucket self-join stays linear
    // in corpus size instead of n²/2^bits at a fixed width). The
    // derivation is integer-only and the oracle replays it from
    // count(*), so the adaptive choice is exact cross-engine at EVERY
    // scale — the same treatment q106's cluster count and q71/q108's
    // nlist got, closing the last fixed-capacity knob in the family.
    "q25_embed_neardup" -> ((s, dir) => {
      Dedup.embeddingNearDup(t(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.2, bits = 0, tables = 2, portableDim = 64)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // multimodal plumbing: binary payload → partition-batched stub decode.
    "q26_multimodal" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val assets = Multimodal.assetsFromText(t(s, dir, "documents"), "doc_id", "text")
      Multimodal.decodeAssets(assets).toDF()
        .select(col("asset_id"), col("byte_len"), col("width"), col("height"),
          col("n_frames"))
        .orderBy(col("asset_id"))
    }),

    // the reference flagship: DMS envelope demux (F1) + flatten (P1).
    "q27_split_person" -> ((s, dir) => {
      StreamSplitter.flatten(
        StreamSplitter.demux(customerEnvelopes(s, dir), "dms_sample", "person"))
        .orderBy(col("c_custkey"))
    }),

    // as-of join (operator Spark's DataFrame API lacks): each click gets
    // the user's most recent prior purchase. One shuffle + sort.
    "q28_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), expr("unix_micros(cast(ts as timestamp))").as("t_us"),
          col("event_id").as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), expr("unix_micros(cast(ts as timestamp))").as("t_us"),
          col("event_id").as("purchase_id"), col("value").as("purchase_value"))
      // tiebreak = purchase_id: equal-(user, ts) purchases resolve to the
      // greatest event id on BOTH engines, so the hash compare is stable
      // even if the fixture ever grows duplicate timestamps (r2 advice).
      AsOfJoin.backward(clicks, purchases, Seq("user_id"), "t_us",
          Seq("purchase_id", "purchase_value"), tiebreak = Some("purchase_id"))
        .orderBy(col("click_id"))
    }),

    // forward as-of: each click attaches the user's NEXT purchase at or
    // after it (lead-time enrichment) — same one-shuffle union+window
    // plan as q28 with the scan reversed.
    "q81_asof_forward" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), expr("unix_micros(cast(ts as timestamp))").as("t_us"),
          col("event_id").as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), expr("unix_micros(cast(ts as timestamp))").as("t_us"),
          col("event_id").as("purchase_id"), col("value").as("purchase_value"))
      AsOfJoin.forward(clicks, purchases, Seq("user_id"), "t_us",
          Seq("purchase_id", "purchase_value"), tiebreak = Some("purchase_id"))
        .orderBy(col("click_id"))
    }),

    // salted equi-join (explicit hot-key spreading): output must be
    // IDENTICAL to the plain join — the salt is internal — so the
    // oracle is the plain-join aggregate.
    "q80_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
      val dim = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderdate"))
      operators.Skew.saltedJoin(li, dim, "o_orderkey", salt = 8)
        .groupBy(year(col("o_orderdate")).as("yr"))
        .agg(count(lit(1)).cast("long").as("n_lines"),
          sumDec(col("l_quantity")).as("sum_qty"))
        .orderBy(col("yr"))
    }),

    // the ad-hoc SQL surface (S7/Q2): PERSISTED catalog tables (external
    // parquet locations in the `graft` database — the metastore path,
    // not session views) + SQL text through the full parser/analyzer/
    // optimizer path.
    "q29_sql_catalog" -> ((s, dir) => {
      Tables.registerAllAsTables(s, dir)
      s.sql("""SELECT c_mktsegment, CAST(year(o_orderdate) AS INT) AS yr,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
               FROM graft.orders JOIN graft.customer ON o_custkey = c_custkey
               GROUP BY c_mktsegment, year(o_orderdate)
               ORDER BY c_mktsegment, yr""")
    }),

    // choice-type resolution (SURVEY §2.8): conflicting per-source
    // schemas (long/int ids, double/int prices, string/int info) merge
    // to the widest union schema and union cleanly.
    "q30_choice_union" -> ((s, dir) => {
      val a = t(s, dir, "part").select(
        col("p_partkey").as("id"), col("p_retailprice").as("price"),
        col("p_name").as("info"), lit("part").as("src"))
      val b = t(s, dir, "supplier").select(
        col("s_suppkey").cast("int").as("id"),
        floor(col("s_acctbal")).cast("int").as("price"),
        col("s_nationkey").as("info"), lit("supplier").as("src"))
      val target = ChoiceResolver.mergeSchemas(Seq(a.schema, b.schema))
      ChoiceResolver.resolveTo(a, target)
        .unionByName(ChoiceResolver.resolveTo(b, target))
        .orderBy(col("src"), col("id"))
    }),

    // ResolveChoice make_cols policy (Glue's second resolution mode):
    // each conflicting field splits into one column per concrete type —
    // id{bigint,int}, price{double,int}, info{string,int} over the q30
    // fixture frames.
    "q73_choice_make_cols" -> ((s, dir) => {
      val a = t(s, dir, "part").select(
        col("p_partkey").as("id"), col("p_retailprice").as("price"),
        col("p_name").as("info"), lit("part").as("src"))
      val b = t(s, dir, "supplier").select(
        col("s_suppkey").cast("int").as("id"),
        floor(col("s_acctbal")).cast("int").as("price"),
        col("s_nationkey").as("info"), lit("supplier").as("src"))
      ChoiceResolver.resolveUnion(Seq(a, b), ChoiceResolver.ChoicePolicy.MakeCols)
        .orderBy(col("src"), coalesce(col("id_bigint"), col("id_int")))
    }),

    // approximate distinct-count sketch (HLL++). The estimate itself is
    // engine-specific, so the query emits the EXACT count plus an
    // error-bound invariant the oracle asserts (rel. error ≤ 3× the
    // default 5% rsd): if the sketch drifts, hll_ok flips false and the
    // driver's hash compare goes red — a hard check, not rows-only.
    "q31_approx_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("approx"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx") - col("exact_parts"))
            <= col("exact_parts").cast("double") * 0.15).as("hll_ok"))
        .orderBy(col("l_returnflag"))
    }),

    // running/offset window functions: lag + running sum per customer.
    "q32_window_running" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          sum(dec(col("o_totalprice"))).over(wRun).cast("double").as("running_total"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // correlated scalar subquery (Catalyst decorrelates to a left outer
    // aggregate join).
    "q33_scalar_subquery" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT c_custkey,
                 (SELECT max(o_totalprice) FROM orders
                  WHERE o_custkey = c_custkey) AS max_price
               FROM customer ORDER BY c_custkey""")
    }),

    // PII/URL scrub (training-data hygiene): inject a deterministic
    // url+email per doc, scrub, measure removed span.
    "q35_scrub" -> ((s, dir) => {
      val dirty = concat(col("text"),
        lit(" contact admin@example.com or visit https://ex.io/p/"),
        col("doc_id").cast("string"))
      t(s, dir, "documents")
        .select(col("doc_id"), dirty.as("dirty"))
        .select(col("doc_id"),
          length(col("dirty")).cast("long").as("dirty_len"),
          length(T.scrubUrlsEmails(col("dirty"))).cast("long").as("clean_len"))
        .orderBy(col("doc_id"))
    }),

    // generator / table function: token explosion (UDTF-shape).
    "q34_explode_tokens" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), T.tokens(col("text")).as("ts"))
        .select(col("doc_id"), explode(col("ts")).as("tok"))
        .orderBy(col("doc_id"), col("tok"))
    }),

    // cube: all grouping-set combinations over two dimensions.
    "q36_cube" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sumDec(col("l_quantity")).as("qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }),

    // pivot: one row per returnflag, one column per linestatus.
    "q37_pivot" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sumDec(col("l_quantity")))
        .orderBy(col("l_returnflag"))
    }),

    // CDC snapshot materialization: events as a change log (insert/
    // update/delete per user), collapsed to latest surviving state.
    "q38_cdc_snapshot" -> ((s, dir) => {
      val log = t(s, dir, "events").select(
        col("user_id"), expr("unix_micros(cast(ts as timestamp))").as("t_us"),
        col("event_id"), col("value"),
        when(col("event_type").isin("view", "signup"), "insert")
          .when(col("event_type") === "error", "delete")
          .otherwise("update").as("op"))
      CdcMaterializer.latestSnapshot(log, Seq("user_id"),
          Seq(col("t_us"), col("event_id")), "op")
        .orderBy(col("user_id"))
    }),

    // range join (no equi key): event values into overlapping numeric
    // intervals via the bucketed interval-index rewrite.
    "q39_range_join" -> ((s, dir) => {
      val points = t(s, dir, "events").select(col("event_id"), col("value"))
      val intervals = t(s, dir, "nation").select(col("n_nationkey"),
        (col("n_nationkey") * 4.0).as("lo"),
        (col("n_nationkey") * 4.0 + 6.0).as("hi"))
      RangeJoin.pointInInterval(points, "value", intervals, "lo", "hi",
          bucketWidth = 4.0)
        .select(col("event_id"), col("n_nationkey"), col("value"))
        .orderBy(col("event_id"), col("n_nationkey"))
    }),

    // sessionization: gap-based session ids per user (30-minute gap),
    // lag + cumulative-sum windows.
    "q40_sessionize" -> ((s, dir) => {
      val gapUs = 30L * 60 * 1000000
      val wOrd = Window.partitionBy(col("user_id"))
        .orderBy(col("t_us"), col("event_id"))
      val ev = t(s, dir, "events")
        .select(col("user_id"), expr("unix_micros(cast(ts as timestamp))").as("t_us"), col("event_id"))
        .withColumn("new_sess",
          when(col("t_us") - lag(col("t_us"), 1).over(wOrd) > gapUs, 1L)
            .otherwise(lit(0L)))
        .withColumn("session_id", sum(col("new_sess"))
          .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      ev.groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("t_us")).as("t_start"), max(col("t_us")).as("t_end"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    // exact interpolated percentiles (continuous quantile semantics
    // shared by Spark `percentile` and DuckDB `quantile_cont`).
    "q41_percentile" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.9)").as("p90"),
          expr("percentile(l_extendedprice, 0.25)").as("price_p25"))
        .orderBy(col("l_returnflag"))
    }),

    // map type: JSON payload as map<string,int>, exploded to entries.
    "q43_map_explode" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_id"),
          from_json(col("props"),
            org.apache.spark.sql.types.DataType.fromDDL("map<string,int>")).as("m"))
        .select(col("event_id"), explode(col("m")).as(Seq("key", "val")))
        .orderBy(col("event_id"), col("key"))
    }),

    // typed Dataset Aggregator: quantity-weighted mean price per flag
    // (BigDecimal buffer → order-independent, oracle-exact).
    "q44_typed_agg" -> ((s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          col("l_quantity"), col("l_extendedprice"))
        .as[(String, Double, Double)]
      li.groupByKey(_._1)
        .agg(graft.functions.typed.WeightedMean
          .of[(String, Double, Double)](_._2, _._3)
          .toColumn.name("wavg_price"))
        .toDF("l_returnflag", "wavg_price")
        .orderBy(col("l_returnflag"))
    }),

    // JSON path extraction (get_json_object / json_extract_string).
    "q42_json_path" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .filter(col("k").isNotNull)
        .orderBy(col("event_id"))
    }),

    // multiset set operation: EXCEPT ALL keeps duplicate cardinality
    // (urgent orders per customer minus one occurrence per F-status order).
    "q52_except_all" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      val fin = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      urgent.exceptAll(fin)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
        .orderBy(col("o_custkey"))
    }),

    // wide→long reshape: unpivot two part measures into (attr, val) rows
    // — a Catalyst Expand node, one scan, no join/shuffle.
    "q53_unpivot" -> ((s, dir) => {
      t(s, dir, "part")
        .select(col("p_partkey"), col("p_size").cast("double").as("p_size"),
          col("p_retailprice"))
        .unpivot(Array(col("p_partkey")), Array(col("p_size"), col("p_retailprice")),
          "attr", "val")
        .orderBy(col("p_partkey"), col("attr"))
    }),

    // correlated LATERAL subquery join: each nation's top-2 customers by
    // balance (planner decorrelates to a ranked join, no N-times re-scan).
    "q54_lateral" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT n_name, c_name, bal FROM nation,
               LATERAL (SELECT c_name, c_acctbal AS bal FROM customer
                        WHERE c_nationkey = n_nationkey
                        ORDER BY c_acctbal DESC, c_name LIMIT 2)
               ORDER BY n_name, bal DESC, c_name""")
    }),

    // navigation window functions: first/nth value and cume_dist over a
    // unique total order per priority class.
    "q55_window_nav" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
          first(col("o_orderkey")).over(wFull).as("cheapest"),
          nth_value(col("o_orderkey"), 2).over(wFull).as("second_cheapest"),
          round(cume_dist().over(w), 6).as("cume"))
        .orderBy(col("o_orderkey"))
    }),

    // stratified sampling (sampleBy): per-language balanced draw — the
    // training-mix rebalancing op (downsample the dominant language,
    // keep the rest). Per-stratum randomness is engine-specific, so the
    // query emits exact population counts plus a per-stratum invariant
    // the oracle asserts: kept-whole strata must survive EXACTLY
    // (fraction 1.0 ⇒ n = n_pop), the downsampled stratum within ±6σ
    // of Binomial(n_pop, 0.2). Either failure flips the flag → red.
    "q70_stratified_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // fractions from the OBSERVED strata (sampleBy drops strata absent
      // from the map — a hardcoded list would silently lose a new
      // language); the lang list is driver-side catalog-scale metadata.
      val langs = docs.select("lang").distinct().collect().map(_.getString(0))
      val fractions = langs.map(l => l -> (if (l == "en") 0.2 else 1.0)).toMap
      val pop = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_pop"))
      val smp = docs.stat.sampleBy("lang", fractions, seed = 42L)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_smp"))
      pop.join(smp, Seq("lang"), "left")
        .select(col("lang"), col("n_pop"),
          when(col("lang") === "en",
            abs(coalesce(col("n_smp"), lit(0L)) - col("n_pop") * 0.2)
              <= lit(6.0) * sqrt(col("n_pop") * 0.16) + 3.0)
            .otherwise(coalesce(col("n_smp"), lit(0L)) === col("n_pop"))
            .as("sample_ok"))
        .orderBy(col("lang"))
    }),

    // trained-quantizer IVF (k-means-refined centroids): recall vs the
    // exact brute-force top-k computed IN the query becomes a hard
    // invariant the oracle asserts. The trained centroids are fp-
    // aggregation-order dependent (so unlike q50 the full result set is
    // not mirrorable), and per-query recall legitimately varies on this
    // clusterless synthetic corpus — the robust cross-engine contract
    // is aggregate recall — and because the trained centroids inherit
    // fp accumulation ORDER from partitioning, recall itself drifts a
    // few hits between machines (observed 29–39 of 50). The threshold
    // is 2 hits/query (20 of 50), far below every observed run but far
    // above a broken quantizer/probe path (~0) — wide enough that the
    // oracle hash can't flip on a different core count (r2 advice).
    // nlist/nprobe = 0: the scale-ADAPTIVE configuration (√N nlist,
    // constant probed share) — the knob setting that keeps this recall
    // bound scale-invariant; the fixed (8, 3) config passed at sf0.01
    // and failed at sf1 (SCALING.md §round-7), which is exactly the
    // silent degradation auto-config exists to close.
    "q71_ann_ivf_trained" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      val approx = Similarity.ivfTopKTrained(e, q, k = 5, nlist = 0,
        nprobe = 0, iters = 3)
      val exact = Similarity.bruteForceTopK(e, q, k = 5)
      val hits = approx.select(col("query_id"), col("item_id"))
        .join(exact.select(col("query_id"), col("item_id")),
          Seq("query_id", "item_id"))
        .agg(count(lit(1)).as("n_hit"))
      q.agg(count(lit(1)).as("n_queries")).crossJoin(hits)
        .select(col("n_queries"), (col("n_queries") * 5).as("total_possible"),
          (col("n_hit") >= col("n_queries") * 2).as("recall_ok"))
    }),

    // bigram-LM surprisal (the step past q77's unigram score): mean
    // −log2 p(cur | prev) with add-one smoothing over exact corpus
    // bigram counts — q69/q77's sorted-fold discipline keeps the float
    // accumulation deterministic and oracle-mirrorable.
    "q84_bigram_surprisal" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // tokenized once for the vocab count AND the main job — both live
      // in ONE returned plan now (vocab is a 1-row crossJoin scalar, not
      // a construction-time head(): no driver sync, and the persist can
      // use the Caches one-shot release, which needs the caller's action
      // to be the first one touching the cache)
      val base = operators.Caches.releaseAfterUse(
        docs.select(col("doc_id"), T.tokens(col("text")).as("ts")))
      val bg = base
        .select(col("doc_id"), explode(T.shinglesFromTokens(col("ts"), 2)).as("b"))
        .select(col("doc_id"),
          substring_index(col("b"), " ", 1).as("prev"),
          substring_index(col("b"), " ", -1).as("cur"))
      val dcnt = bg.groupBy("doc_id", "prev", "cur").agg(count(lit(1)).as("cnt"))
      // corpus counts ROLL UP from the per-doc counts as WINDOW sums
      // over dcnt (bit-identical integer sums): two Window passes
      // replace the former groupBy(cab)+groupBy(ca)+double-join shape —
      // the (doc, bigram) table crossed the wire 4× with both shingle
      // strings aboard; now 2× (measured ~40% off the query at sf1)
      val withTotals = dcnt
        .withColumn("cab", sum("cnt").over(Window.partitionBy("prev", "cur")))
        .withColumn("ca", sum("cnt").over(Window.partitionBy("prev")))
      val vocab = base.select(explode(col("ts")).as("tok"))
        .agg(countDistinct(col("tok")).cast("double").as("vocab"))
      // fold via the codegen'd SurprisalFold kernel (the HOF form was
      // the suite's worst scale curvature — interpreted per bigram)
      val folded = withTotals
        .groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("prev"), col("cur"),
          col("cnt"), col("cab"), col("ca")))).as("cc"))
        .crossJoin(broadcast(vocab))
        .select(col("doc_id"), graft.functions.GraftFunctions
          .graftSurprisalFold(col("cc"), col("vocab"), "bigram").as("f"))
        .select(col("doc_id"), col("f.n").as("n"), col("f.s").as("ssum"))
      docs.select("doc_id").join(folded, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("n"), lit(0L)).as("n_bigrams"),
          when(col("n").isNull || col("n") <= 0, lit(0.0))
            .otherwise(round(col("ssum") / col("n"), 4)).as("bits_per_bigram"))
        .orderBy(col("doc_id"))
    }),

    // the training-data funnel END TO END — quality gate → exact dedup
    // → decontamination → per-language report. Every stage compares in
    // exact integer arithmetic (10·digits ≤ 3·chars; 2·hits < shingles)
    // so the whole composed pipeline hash-verifies cross-engine; this
    // is the query a user of the library actually ships.
    "q86_pipeline_report" -> ((s, dir) => {
      val docs = operators.Caches.releaseAfterUse(t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"), T.tokens(col("text")).as("ts")))
      // stage 1: quality gate (length + digit-density), integer-exact
      val quality = docs.filter(size(col("ts")) >= 20 &&
        lit(10) * size(regexp_extract_all(col("text"), lit("[0-9]"), lit(0)))
          <= lit(3) * greatest(length(col("text")), lit(1)))
      // stage 2: exact dedup — keep min doc_id per text (window min
      // over the text partition, the q84/q77/q83 rollup reshape: one
      // shuffle of the quality rows instead of groupBy + semi-join)
      val deduped = quality
        .withColumn("__keep", min(col("doc_id")).over(Window.partitionBy("text")))
        .filter(col("doc_id") === col("__keep")).drop("__keep")
      // stage 3: decontamination — distinct 5-gram containment vs the
      // held-out bench set (doc_id < 10), integer compare 2·hits < n_sh
      val sh = operators.Caches.releaseAfterUse(docs.select(col("doc_id"),
          array_distinct(T.shinglesFromTokens(col("ts"), 5)).as("sh")))
      val ex = sh.select(col("doc_id"), explode(col("sh")).as("g"))
      val bench = ex.filter(col("doc_id") < 10).select("g").distinct()
      val hits = ex.join(broadcast(bench), Seq("g"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
      val clean = deduped
        .join(sh.select(col("doc_id"), size(col("sh")).cast("long").as("n_sh")), "doc_id")
        .join(hits, Seq("doc_id"), "left")
        .filter(coalesce(col("n_hit"), lit(0L)) * 2 < col("n_sh"))
      // per-language funnel report
      def cnt(df: DataFrame, name: String): DataFrame =
        df.groupBy("lang").agg(count(lit(1)).as(name))
      cnt(docs, "n_raw")
        .join(cnt(quality, "n_quality"), Seq("lang"), "left")
        .join(cnt(deduped, "n_dedup"), Seq("lang"), "left")
        .join(cnt(clean, "n_clean"), Seq("lang"), "left")
        .select(col("lang"), col("n_raw"),
          coalesce(col("n_quality"), lit(0L)).as("n_quality"),
          coalesce(col("n_dedup"), lit(0L)).as("n_dedup"),
          coalesce(col("n_clean"), lit(0L)).as("n_clean"))
        .orderBy(col("lang"))
    }),

    // SCD Type-2 history materialization: the other half of the CDC
    // story (q38 keeps only the latest state; warehouses also need the
    // full versioned history). Each change opens [valid_from,
    // valid_to); the next change to the key closes it; deletes close
    // without emitting. One window shuffle — minimal, since output
    // cardinality equals input.
    "q87_scd2_history" -> ((s, dir) => {
      val log = t(s, dir, "events").select(
        col("user_id"), expr("unix_micros(cast(ts as timestamp))").as("t_us"),
        col("event_id"), col("value"),
        when(col("event_type").isin("view", "signup"), "insert")
          .when(col("event_type") === "error", "delete")
          .otherwise("update").as("op"))
      CdcMaterializer.scd2History(log, Seq("user_id"), "t_us",
          Seq("event_id"), "op")
        .select(col("user_id"), col("event_id"), col("value"), col("op"),
          col("valid_from"), col("valid_to"), col("is_current"))
        .orderBy(col("user_id"), col("valid_from"), col("event_id"))
    }),

    // z-order layout statistics: normalize (l_partkey, l_suppkey) to a
    // 64×64 integer grid (exact int arithmetic — scale-independent, so
    // the tiling is meaningful at every SF), Morton-interleave, tile
    // by the top 6 z bits (= recursive quadrants), emit per-tile
    // min/max of both dims — the file-skipping metadata a 100 TB scan
    // planner prunes on. The oracle replays the interleave bit for bit.
    "q88_zorder_layout" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey"))
      val bounds = li.agg(
        min("l_partkey").as("pmin"), max("l_partkey").as("pmax"),
        min("l_suppkey").as("smin"), max("l_suppkey").as("smax"))
      val norm = li.crossJoin(broadcast(bounds)).select(
        col("l_partkey"), col("l_suppkey"),
        expr("((l_partkey - pmin) * 64) div (pmax - pmin + 1)").as("na"),
        expr("((l_suppkey - smin) * 64) div (smax - smin + 1)").as("nb"))
      norm.groupBy(shiftright(
            operators.Layout.zValue(col("na"), col("nb"), 6), 6).as("tile_id"))
        .agg(count(lit(1)).as("n_rows"),
          min("l_partkey").as("min_a"), max("l_partkey").as("max_a"),
          min("l_suppkey").as("min_b"), max("l_suppkey").as("max_b"))
        .orderBy(col("tile_id"))
    }),

    // corpus length histogram per language (the dataset-report op):
    // fixed 50-char buckets over doc length — one hash aggregate on
    // (lang, bucket), integer arithmetic both engines share.
    "q85_length_histogram" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("lang"),
          floor(col("n_chars") / 50).cast("int").as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy(col("lang"), col("bucket"))
    }),

    // TF-IDF salient term per document (feature extraction): exact
    // corpus document frequencies + smoothed idf, top-1 by score via
    // the custom TopKPerGroup operator (bounded heap, no per-doc sort).
    // All-rational inputs to ln keep both engines bit-aligned at the
    // 6-decimal round.
    "q83_tfidf_top_term" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = docs.select(col("doc_id"), explode(T.tokens(col("text"))).as("tok"))
      val dtf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
      val nDocs = docs.count().toDouble
      // doc lengths and document frequencies roll up from dtf as
      // WINDOW aggregates (the q84/q77 reshape: bit-identical integer
      // sums/counts, and dtf crosses the wire twice instead of four
      // times with the token strings aboard)
      val withTotals = dtf
        .withColumn("n_tok", sum("cnt").over(Window.partitionBy("doc_id")))
        .withColumn("df", count(lit(1)).over(Window.partitionBy("tok")))
      // rank on the ROUNDED score (both engines): the raw argmax would
      // compare unrounded doubles whose last ulp can differ between
      // Spark's StrictMath.log and DuckDB's libm ln — rounding first
      // turns near-ties into exact ties that the tok tiebreak resolves
      // identically (review finding; same class as the unrounded-
      // threshold rule).
      val scored = withTotals
        .select(col("doc_id"), col("tok"),
          round(col("cnt") / col("n_tok") * log((lit(nDocs) + 1.0)
            / (col("df") + lit(1.0))), 6).as("score"))
      operators.TopK.perGroup(scored, Seq("doc_id"),
          Seq(("score", false), ("tok", true)), 1, "rk")
        .select(col("doc_id"), col("tok").as("term"), col("score").as("tfidf"))
        .orderBy(col("doc_id"))
    }),

    // vocabulary / heavy hitters: top tokens via the Misra–Gries
    // mergeable summary (custom object aggregate — k-bounded state per
    // partition, associative merge; the 100 TB substitute for an exact
    // all-tokens groupBy). BOUND-AWARE oracle (the q31/q57/q70/q71
    // invariant-flag pattern): rows are the EXACT top-10 (mirrorable
    // at any scale), and the sketch is asserted against its OWN
    // contract — an item with true count > N/k must be reported, and
    // a reported estimate may undercount by at most N/k. An exactness
    // oracle holds only while the frequency gap exceeds N/k (true at
    // the sf0.01 gate, false at sf1 — SCALING.md §round-7); the bound
    // flags hold at EVERY scale by the sketch's theorem.
    "q82_heavy_hitters" -> ((s, dir) => {
      val base = operators.Caches.releaseAfterUse(t(s, dir, "documents")
        .select(explode(T.tokens(col("text"))).as("tok")))
      val mg = base
        .agg(graft.functions.GraftFunctions.graftFreqItems(col("tok"), 64)
          .as("summary"))
        .select(explode(col("summary")).as("e"))
        .select(col("e.item").as("tok"), col("e.cnt").as("mg_cnt"))
      val top = base.groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok")).limit(10)
      val n = base.agg(count(lit(1)).cast("double").as("n_total"))
      top.join(broadcast(mg), Seq("tok"), "left")
        .crossJoin(broadcast(n))
        .select(col("tok"), col("cnt"),
          // MG theorem 1: frequency > N/k ⇒ the item survives
          (col("cnt") <= col("n_total") / 64 || col("mg_cnt").isNotNull)
            .as("reported_ok"),
          // MG theorem 2: 0 ≤ true − estimate ≤ N/k for reported items
          (col("mg_cnt").isNull ||
            ((col("cnt") - col("mg_cnt")) >= 0 &&
              (col("cnt") - col("mg_cnt")) <= col("n_total") / 64))
            .as("bound_ok"))
        .orderBy(col("cnt").desc, col("tok"))
    }),

    // repetition metrics (Gopher-style quality filters): duplicate
    // token-3-gram fraction and the top bigram's share — the classic
    // boilerplate/spam discriminators. Row-local array math for the
    // 3-gram side; one (doc, gram)-keyed aggregate for the bigram mode.
    "q79_repetition" -> ((s, dir) => {
      val base = operators.Caches.releaseAfterUse(t(s, dir, "documents")
        .select(col("doc_id"), T.tokens(col("text")).as("ts"))
        .select(col("doc_id"), size(col("ts")).cast("long").as("n_tokens"),
          T.shinglesFromTokens(col("ts"), 3).as("s3"),
          T.shinglesFromTokens(col("ts"), 2).as("s2")))
      val dup3 = base.select(col("doc_id"), col("n_tokens"),
        when(size(col("s3")) <= 0, lit(0.0)).otherwise(
          round(lit(1.0) - size(array_distinct(col("s3")))
            / size(col("s3")).cast("double"), 4)).as("dup3_frac"))
      val top2 = base.select(col("doc_id"), explode(col("s2")).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max("c").as("top_c"), sum("c").as("n2"))
      dup3.join(top2, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"), col("dup3_frac"),
          when(col("n2").isNull || col("n2") <= 0, lit(0.0))
            .otherwise(round(col("top_c") / col("n2").cast("double"), 4))
            .as("top2_share"))
        .orderBy(col("doc_id"))
    }),

    // context-window chunking with overlap (RAG/training prep): fixed
    // 200-char windows every 150 chars — generator + substring, zero
    // shuffle, fully scan-parallel.
    "q78_chunk_overlap" -> ((s, dir) => {
      t(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0), greatest(length(col("text")) - 1, lit(0)),
            lit(150))).as("cs"))
        .select(col("doc_id"),
          expr("cs div 150").cast("int").as("chunk_id"),
          col("text").substr(col("cs") + 1, lit(200)).as("chunk"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // decontamination: fraction of each doc's distinct token-5-gram
    // shingles that appear in the held-out "benchmark" set (doc_id <
    // 10) — the train/test overlap check every pretraining pipeline
    // runs before training. Bench shingle set broadcasts; the only
    // fact-side shuffle is keyed by doc_id.
    "q76_contamination" -> ((s, dir) => {
      // tokens staged as an attribute BEFORE the shingle lambda (the
      // shingle-family performance rule: a non-attribute expression in
      // the HOF body re-evaluates per element — measured 17 s vs 1 s
      // at sf0.1 for exactly this query).
      val docs = operators.Caches.releaseAfterUse(t(s, dir, "documents")
        .select(col("doc_id"), T.tokens(col("text")).as("ts"))
        .select(col("doc_id"),
          array_distinct(T.shinglesFromTokens(col("ts"), 5)).as("sh")))
        // referenced 3× (bench set, hit count, totals) — shingle once
      val ex = docs.select(col("doc_id"), explode(col("sh")).as("g"))
      val benchSh = ex.filter(col("doc_id") < 10).select("g").distinct()
      val hits = ex.join(broadcast(benchSh), Seq("g"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
      docs.select(col("doc_id"), size(col("sh")).cast("long").as("n_sh"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_sh"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          when(col("n_sh") === 0, lit(0.0))
            .otherwise(round(coalesce(col("n_hit"), lit(0L))
              / col("n_sh").cast("double"), 4)).as("contamination"))
        .orderBy(col("doc_id"))
    }),

    // unigram-LM quality score: mean surprisal (bits/token) of each doc
    // under the corpus unigram distribution — the cheap perplexity
    // proxy for gibberish/boilerplate filtering. Same deterministic
    // sorted-fold discipline as q69 so the float accumulation order is
    // oracle-mirrorable; corpus total is one bounded count.
    "q77_unigram_surprisal" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // one tokenize pass (cached for the fold AND the total), corpus
      // token counts as a WINDOW sum over the per-doc counts (same
      // q84 reshape: bit-identical integer sums, half the wire
      // crossings of the former groupBy+join), and the corpus total as
      // a broadcast 1-row scalar instead of a construction-time
      // count() that re-tokenized everything
      val dc = operators.Caches.releaseAfterUse(
        docs.select(col("doc_id"), explode(T.tokens(col("text"))).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt")))
      val withG = dc.withColumn("gcnt",
        sum("cnt").over(Window.partitionBy("tok")))
      val total = dc.agg(sum("cnt").cast("double").as("total"))
      val folded = withG
        .groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("tok"), col("cnt"), col("gcnt"))))
          .as("cc"))
        .crossJoin(broadcast(total))
        .select(col("doc_id"), graft.functions.GraftFunctions
          .graftSurprisalFold(col("cc"), col("total"), "unigram").as("f"))
        .select(col("doc_id"), col("f.n").as("n"), col("f.s").as("s"))
      docs.select("doc_id").join(folded, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n"), lit(0L)).as("n_tokens"),
          when(col("n").isNull || col("n") <= 0, lit(0.0))
            .otherwise(round(col("s") / col("n"), 4)).as("bits_per_token"))
        .orderBy(col("doc_id"))
    }),

    // sequence packing for pretraining batches: documents laid on a
    // contiguous token tape, cut into budget-sized sequences — computed
    // with the two-pass distributed prefix sum (range-partitioned local
    // cumsums + bounded offset collect), NOT a one-task global window;
    // the oracle recomputes it with a plain window, which is the same
    // function of the total id order.
    "q74_pack_sequences" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), T.tokenCount(col("text")).cast("long").as("n_tok"))
      operators.Packing.packContiguous(docs, "doc_id", "n_tok",
          budget = 1024L, shards = 16)
        .orderBy(col("doc_id"))
    }),

    // end-to-end dedup keep-list: near-dup pairs → connected components
    // → drop every member but the min id — the materialized "training
    // set after dedup" that q22/q64 build toward.
    "q75_dedup_keep" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 5, threshold = 0.8)
      val comps = Dedup.connectedComponents(pairs, "id_a", "id_b")
      val drop = comps.filter(col("comp") < col("id"))
        .select(col("id").as("doc_id"))
      docs.select("doc_id").join(drop, Seq("doc_id"), "left_anti")
        .orderBy("doc_id")
    }),

    // character-entropy quality signal (bits/char): exact char
    // frequencies folded over sorted distinct chars — deterministic
    // float order, so DuckDB mirrors it bit-for-bit at 4 decimals.
    // Scale path: explode → codegen'd (doc,char) count → per-doc sorted
    // struct fold (≤ alphabet-size elements). The all-HOF form
    // (TextFunctions.charEntropyFromChars) is O(distinct×len)
    // interpreted per row — measured 5.5s vs 1s at sf0.1.
    "q69_char_entropy" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val folded = charEntropyPerDoc(docs)
      // left join: docs whose text is NULL produce no exploded rows but
      // must still appear (entropy 0.0 — the oracle's NULL case mirrors this)
      docs.select("doc_id").join(folded, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("entropy"), lit(0.0)).as("entropy"))
        .orderBy(col("doc_id"))
    }),

    // fact⋈fact join strategies, forced via hints: at 100 TB
    // lineitem⋈orders cannot broadcast — these exercise the shuffle
    // paths the small-scale optimizer would otherwise never pick.
    // Sort-merge: both sides exchange + sort on the key; robust default
    // for large⋈large (spillable, no build-side memory cliff).
    "q67_sortmerge_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"))
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"))
      li.hint("merge").join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_lines"), sumDec(col("l_quantity")).as("sum_qty"))
        .orderBy(col("o_orderstatus"))
    }),

    // Shuffle-hash: same exchanges, hash table instead of sorts — wins
    // when one side is much smaller per partition (no sort cost), loses
    // the spill-safety of sort-merge; kept as the explicit alternative.
    "q68_shuffle_hash_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_extendedprice"),
        col("l_discount"))
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
      li.join(o.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(revenue(col("l_extendedprice"), col("l_discount")).as("rev"))
        .orderBy(col("o_orderpriority"))
    }),

    // SQL PIVOT clause (the parser path, vs q37's DataFrame pivot).
    "q65_pivot_sql" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT * FROM (
                 SELECT l_returnflag, l_linestatus,
                        CAST(l_quantity AS DECIMAL(18,2)) AS qty
                 FROM lineitem)
               PIVOT (CAST(sum(qty) AS DOUBLE) FOR l_linestatus IN ('F' AS f, 'O' AS o))
               ORDER BY l_returnflag""")
    }),

    // case-insensitive collation (Spark 4 COLLATE): grouping normalizes
    // case without rewriting the data — mixed-case source values of the
    // documents' source column group as one key.
    "q66_collation" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0, upper(col("source")))
            .otherwise(col("source")).as("src")) // synthesize mixed case
        .select(col("doc_id"), collate(col("src"), "UTF8_LCASE").as("src"))
        .groupBy(col("src"))
        .agg(count(lit(1)).as("n"))
        .select(lower(col("src")).as("source"), col("n")) // stable display form
        .orderBy(col("source"))
    }),

    // dedup clusters: connected components over the exact-Jaccard pair
    // list (min-label propagation) — pairwise matches → per-document
    // cluster labels, keep min(doc_id) per component to dedup.
    "q64_dedup_clusters" -> ((s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(t(s, dir, "documents"),
        "doc_id", "text", n = 5, threshold = 0.8)
      Dedup.connectedComponents(pairs, "id_a", "id_b")
        .select(col("id").cast("long").as("doc_id"),
          col("comp").cast("long").as("component"))
        .orderBy(col("doc_id"))
    }),

    // arbitrary per-group computation via typed mapGroups (the Scala
    // analog of applyInPandas): OLS slope of order price over time per
    // priority class. BigDecimal accumulation ⇒ result independent of
    // the iterator's (arbitrary) row order, so the oracle can mirror the
    // closed form exactly.
    "q63_mapgroups_slope" -> ((s, dir) => {
      import s.implicits._
      val rows = t(s, dir, "orders")
        .select(col("o_orderpriority"),
          datediff(col("o_orderdate"), lit("1992-01-01").cast("timestamp_ntz"))
            .cast("long").as("x"),
          col("o_totalprice").as("y"))
        .as[(String, Long, Double)]
      rows.groupByKey(_._1)
        .mapGroups { (prio, it) =>
          var n = 0L
          var sx, sy, sxy, sxx = BigDecimal(0)
          it.foreach { case (_, x, y) =>
            val xb = BigDecimal(x)
            val yb = BigDecimal(y).setScale(2, BigDecimal.RoundingMode.HALF_UP)
            n += 1; sx += xb; sy += yb; sxy += xb * yb; sxx += xb * xb
          }
          val nb = BigDecimal(n)
          // exact decimal numerator/denominator; final division in
          // double so the oracle's CAST-to-double form is bit-identical.
          // Degenerate group (all x equal ⇒ zero variance) → slope 0,
          // mirrored in the oracle's CASE.
          val den = nb * sxx - sx * sx
          val slope =
            if (den == 0) 0.0 else (nb * sxy - sx * sy).toDouble / den.toDouble
          (prio, n,
            BigDecimal(slope).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
        .toDF("o_orderpriority", "n", "slope")
        .orderBy(col("o_orderpriority"))
    }),

    // VARIANT semi-structured path (Spark 4): parse once into the binary
    // variant encoding, then typed variant_get extraction — the
    // schema-on-read successor to per-key get_json_object re-parsing
    // (one parse per row regardless of how many fields are read).
    "q62_variant" -> ((s, dir) => {
      t(s, dir, "events")
        .select(parse_json(col("props")).as("v"))
        .select(variant_get(col("v"), "$.k", "int").as("k"))
        .filter(col("k").isNotNull)
        .groupBy((col("k") % 10).cast("int").as("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("k")).cast("long").as("sum_k"))
        .orderBy(col("bucket"))
    }),

    // recursive CTE (Spark 4 UnionLoop): generate the full 1992-1998
    // month series and zero-fill months with no orders — the series
    // must be generated, not derived, which is what recursion is for.
    "q61_recursive_cte" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""WITH RECURSIVE midx(m) AS (
                 SELECT 0 UNION ALL SELECT m + 1 FROM midx WHERE m < 83),
               om AS (SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
                             count(*) AS n
                      FROM orders GROUP BY 1, 2)
               SELECT CAST(1992 + m div 12 AS INT) AS yr,
                      CAST(1 + m % 12 AS INT) AS mo,
                      CAST(coalesce(n, 0) AS BIGINT) AS n_orders
               FROM midx LEFT JOIN om
                 ON om.yr = 1992 + m div 12 AND om.mo = 1 + m % 12
               ORDER BY yr, mo""")
    }),

    // FILTER-clause (conditional) aggregation: per-flag totals with
    // selective sub-aggregates in ONE pass — no self-joins, no CASE
    // pyramid; each agg carries its own predicate.
    "q59_agg_filter" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT l_returnflag,
               count(*) AS n_all,
               count(*) FILTER (WHERE l_quantity > 30) AS n_bulk,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                    FILTER (WHERE l_discount >= 0.05) AS DOUBLE) AS rev_discounted,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                    FILTER (WHERE l_discount < 0.05) AS DOUBLE) AS rev_full
               FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
    }),

    // ordered string aggregation (listagg/string_agg): per-region nation
    // roster — deterministic via sorted collect.
    "q60_string_agg" -> ((s, dir) => {
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(array_join(array_sort(collect_list(col("n_name"))), ",")
          .as("nations"))
        .orderBy(col("r_name"))
    }),

    // runtime bloom-filter pre-join: lineitem pre-filtered by a bloom
    // over the selective dim's keys BEFORE the join shuffle; exact — the
    // join drops bloom false positives, so the oracle is the plain join.
    "q58_bloom_join" -> ((s, dir) => {
      val fact = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
      val dim = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 150000)
        .select(col("o_orderkey"), col("o_orderdate"))
      graft.operators.BloomJoin.prefilteredJoin(fact, dim, "o_orderkey",
          expectedItems = 100000L)
        .groupBy(year(col("o_orderdate")).as("yr"))
        .agg(count(lit(1)).cast("long").as("n_lines"),
          sumDec(col("l_quantity")).as("sum_qty"))
        .orderBy(col("yr"))
    }),

    // seeded Bernoulli sampling (TABLESAMPLE analog) feeding an
    // approx-percentile sketch. Sample membership and the KLL-style
    // sketch are engine-specific, so the query emits exact population
    // stats plus two statistical invariants the oracle asserts: the
    // sample size within ±6σ of the Binomial(n_pop, 0.1) expectation,
    // and the sampled median inside the population's [p40, p60] band.
    // A broken sampler or sketch flips a flag → driver hash goes red.
    "q57_sample_sketch" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val pop = li.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_pop"),
          expr("percentile(l_quantity, 0.4)").as("p40"),
          expr("percentile(l_quantity, 0.6)").as("p60"))
      val smp = li.sample(0.1, seed = 42)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_smp"),
          percentile_approx(col("l_quantity"), lit(0.5), lit(1000)).as("p50s"))
      pop.join(smp, Seq("l_returnflag"), "left")
        .select(col("l_returnflag"), col("n_pop"),
          (abs(coalesce(col("n_smp"), lit(0L)) - col("n_pop") * 0.1)
            <= lit(6.0) * sqrt(col("n_pop") * 0.09) + 3.0).as("sample_ok"),
          // empty-sample stratum ⇒ vacuously true (p50s null would
          // otherwise propagate NULL into the boolean — review finding)
          coalesce(col("p50s").between(col("p40"), col("p60")), lit(true))
            .as("p50_ok"))
        .orderBy(col("l_returnflag"))
    }),

    // higher-order array functions: per-embedding L2 norm via
    // transform+aggregate (codegen'd lambda fold, no explode/shuffle).
    "q56_hof_norm" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          round(sqrt(aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + x.cast("double") * x.cast("double"))), 4)
            .as("l2_norm"),
          size(col("embedding")).as("dim"))
        .orderBy(col("vec_id"))
    }),

    // passage-level exact substring dedup (within-doc granularity the
    // whole-doc signatures can't see): non-overlapping 8-token windows,
    // corpus multiplicity via one window count, per-doc dup fraction.
    "q90_passage_dedup" -> ((s, dir) => {
      PassageDedup.stats(t(s, dir, "documents"), "doc_id", "text", w = 8)
        .orderBy(col("doc_id"))
    }),

    // incremental corpus ingest: the new batch (doc_id % 3 = 0) dedups
    // against the standing corpus's fingerprint index AND within itself
    // (first-in-batch wins) — the daily-crawl admission check. History
    // fingerprints shuffle once on the narrow fp key; the within-batch
    // check is one window over the same key.
    "q91_incremental_dedup" -> ((s, dir) => {
      // ONE fingerprint scan + ONE fp-keyed shuffle: both flags are
      // window aggregates over the fp partition (history presence =
      // conditional count, within-batch winner = conditional min). The
      // first cut split history/batch into two branches of the same
      // expensive fp projection — two full scans, measured 7.6 s vs
      // 3.9 s at sf0.1. At 100 TB the history side is a standing
      // fingerprint INDEX, not a recompute: this query models the
      // admission semantics; the index swap keeps the same window/join
      // shape over (fp) with the batch as the small side.
      val fp = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), T.tokens(col("text")).as("ts"))
        .select(col("doc_id"),
          T.fingerprintPortableFromTokens(col("ts"), col("text"), 3).as("fp"),
          (col("doc_id") % 3 === 0).as("is_batch"))
      val w = Window.partitionBy("fp")
      fp.withColumn("hist_hits",
          sum(when(!col("is_batch"), 1L).otherwise(0L)).over(w))
        .withColumn("first_in_batch",
          min(when(col("is_batch"), col("doc_id"))).over(w))
        .filter(col("is_batch"))
        .select(col("doc_id"), col("fp"),
          (col("hist_hits") > 0).as("dup_of_history"),
          (col("doc_id") =!= col("first_in_batch")).as("dup_in_batch"))
        .orderBy(col("doc_id"))
    }),

    // model-shaped quality gate: a fixed-weight linear classifier over
    // the q16/q69 feature family — the fastText-style keep/drop filter
    // pretraining pipelines run, minus the (environment-absent) learned
    // weights. Every feature is 4-dp-rounded (each independently
    // hash-verified by q16/q69 at sf1), then the combination runs in
    // EXACT DECIMAL: casting a 4-dp-rounded double to DECIMAL(18,4)
    // recovers the intended decimal exactly in both engines, decimal
    // weights keep every intermediate a rational with denominator
    // 10^6, and the result needs NO final rounding — the last-ulp
    // double-accumulation boundary that flipped one doc's 4-dp
    // rounding at sf1 (SCALING.md §round-7) cannot exist here. The
    // keep flag compares in decimal (exact); the EMITTED score is the
    // decimal cast to DOUBLE — both engines correctly-round the same
    // rational n/10^6 to the same double bits (Spark via
    // BigDecimal.doubleValue, DuckDB via exact-int64/1e6 IEEE divide),
    // and a double is what the driver comparator canonicalizes
    // representation-stably (a raw DECIMAL(18,6) round-tripped
    // differently through it at sf0.01 — r8 gate regression).
    "q92_quality_classifier" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ent = charEntropyPerDoc(docs)
      def dlit(v: String) = lit(new java.math.BigDecimal(v))
      def d4(c: Column) = c.cast("decimal(18,4)")
      docs.select(col("doc_id"),
          T.stopwordRatio(col("text")).as("stop_r"),
          T.digitRatio(col("text")).as("digit_r"),
          T.upperRatio(col("text")).as("upper_r"),
          T.meanTokenLen(col("text")).as("mtl"))
        .join(ent, Seq("doc_id"), "left")
        .select(col("doc_id"),
          (dlit("0.2") + dlit("1.2") * d4(col("stop_r"))
            - dlit("2.0") * d4(col("digit_r"))
            - dlit("1.5") * d4(col("upper_r"))
            + dlit("0.02") * d4(col("mtl"))
            + dlit("0.06") * d4(coalesce(col("entropy"), lit(0.0))))
            .cast("decimal(18,6)").as("score_d"))
        .select(col("doc_id"),
          col("score_d").cast("double").as("score"),
          (col("score_d") >= dlit("0.5")).as("keep"))
        .orderBy(col("doc_id"))
    }),

    // training-mix rebalancing: temperature-scaled source weights
    // w_s ∝ c_s^0.5 (α = 0.5 ⇒ sqrt — correctly rounded IEEE in both
    // engines, unlike pow) and the implied epochs-per-source at those
    // weights. The normalizer folds over sources SORTED BY NAME (q77
    // discipline) so the float sum is order-deterministic.
    "q93_domain_mix" -> ((s, dir) => {
      val counts = t(s, dir, "documents")
        .select(col("source"), explode(T.tokens(col("text"))).as("tok"))
        .groupBy("source").agg(count(lit(1)).as("n_tokens"))
      val tot = counts.agg(
        sum(col("n_tokens")).as("t_total"),
        aggregate(sort_array(collect_list(struct(col("source"), col("n_tokens")))),
          lit(0.0), (a, x) => a + sqrt(x.getField("n_tokens").cast("double")))
          .as("z"))
      counts.crossJoin(tot)
        .select(col("source"), col("n_tokens"),
          round(sqrt(col("n_tokens").cast("double")) / col("z"), 6).as("weight"),
          round(sqrt(col("n_tokens").cast("double")) / col("z")
            * col("t_total").cast("double") / col("n_tokens").cast("double"), 4)
            .as("epochs"))
        .orderBy(col("source"))
    }),

    // batch MERGE (update + delete + insert in one full-outer pass):
    // the change set derives deterministically from customer so the
    // oracle replays application row for row.
    "q94_merge_upsert" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val base = cust.select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val changes = cust
        .filter(col("c_custkey") % 7 === 0 || col("c_custkey") % 11 === 0)
        .select(col("c_custkey"),
          when(col("c_custkey") % 11 === 0, "D").otherwise("U").as("op"),
          concat(col("c_name"), lit("_v2")).as("c_name"),
          (col("c_acctbal") + 100.0).as("c_acctbal"))
        .unionByName(cust.filter(col("c_custkey") % 13 === 0)
          .select((col("c_custkey") + 1000000L).as("c_custkey"),
            lit("I").as("op"),
            concat(col("c_name"), lit("_new")).as("c_name"),
            lit(0.0).as("c_acctbal")))
      Merge.mergeBatch(base, changes, "c_custkey", "op")
        .orderBy(col("c_custkey"))
    }),

    // ORC sink + source round trip with Hive-partitioned layout: write
    // documents partitioned by lang, read back with a partition filter
    // (pruned scan — only the lang=en directory lists), aggregate. The
    // oracle aggregates the original parquet — format fidelity check.
    "q95_orc_roundtrip" -> ((s, dir) => {
      // scratch dir keyed by sfDir AND a per-JVM token: two driver
      // processes on the same sfDir must not race each other's
      // overwrite/read (review finding); the JVM's own re-runs (bench
      // min-of-2) deliberately share and overwrite. Cleaned on exit.
      val out = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_orc_documents_${Integer.toHexString(dir.hashCode)}_$jvmToken")
        .getAbsolutePath
      t(s, dir, "documents").write.mode("overwrite").partitionBy("lang").orc(out)
      s.read.orc(out).filter(col("lang") === "en")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("source"))
    }),

    // corpus clustering profile: nearest-centroid assignment (zero-
    // shuffle literal-centroid map, the IVF quantizer reused as a
    // clusterer) → k-row profile with an exact-decimal cohesion mean.
    "q96_kmeans_profile" -> ((s, dir) => {
      Clustering.profile(t(s, dir, "embeddings"), k = 8)
        .orderBy(col("cluster_id"))
    }),

    // deterministic per-group subsample (reproducible "reservoir"): the
    // md5-first 5 docs per language via the whole-operator TopKPerGroup
    // — bounded heap per group, no per-partition sort, and the same
    // sample on every run/engine (seeded-rand samples are not).
    "q97_group_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("lang"), col("doc_id"),
          md5(col("doc_id").cast("string")).as("h"))
      operators.TopK.perGroup(docs, Seq("lang"),
          Seq(("h", true), ("doc_id", true)), 5, "rk")
        .select(col("lang"), col("doc_id"), col("rk"))
        .orderBy(col("lang"), col("rk"))
    }),

    // padding-aware packing (the scheme where docs never straddle a
    // sequence): length-binned fill, one parallel window per length
    // group — the companion to q74's concat-then-chunk tape.
    "q98_pack_binned" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), T.tokenCount(col("text")).cast("long").as("n_tok"))
      operators.Packing.packBinned(docs, "doc_id", "n_tok", budget = 256L)
        .orderBy(col("doc_id"))
    }),

    // deterministic stratified train/val/test split: the portable
    // 60-bit hash of the doc id buckets 80/10/10 — reproducible across
    // runs, engines, and re-ingestions (the property rand-based splits
    // lose the moment data re-partitions), leakage-free by id. Zero
    // shuffle until the count rollup.
    "q99_dataset_split" -> ((s, dir) => {
      // DatasetSplit.splitCol's default (empty) seed hashes the bare id
      // — assignments here are stable against the pre-seed operator; a
      // caller re-draw passes a seed (DatasetSplitSpec covers both).
      val counts = t(s, dir, "documents")
        .select(col("lang"), operators.DatasetSplit.splitCol(col("doc_id")).as("split"))
        .groupBy("lang", "split").agg(count(lit(1)).as("n_docs"))
      counts
        .withColumn("share", round(col("n_docs")
          / sum(col("n_docs")).over(Window.partitionBy("lang")).cast("double"), 4))
        .orderBy(col("lang"), col("split"))
    }),

    // winsorized robust stats: clip the value column at its per-group
    // exact [p1, p99] (q41's interpolated percentile — bit-identical
    // cross-engine) and aggregate the clipped values in exact decimal —
    // the outlier-capped corpus statistics step of a data-prep report.
    "q100_winsorize" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      // bounds cast to DECIMAL(18,2) ONCE here (round-3 advice): the
      // interpolated percentiles are generally not 2-decimal, and
      // clipping against raw doubles made every clipped row's dec(v)
      // lean on both engines agreeing about double→decimal tie-breaks;
      // rounding the three bounds per group confines that cast to six
      // values, and the clip then compares identically-rounded numbers.
      val pcts = li.groupBy("l_returnflag").agg(
        dec(expr("percentile(l_extendedprice, 0.01)")).as("p01"),
        dec(expr("percentile(l_extendedprice, 0.99)")).as("p99"))
      li.select(col("l_returnflag"), col("l_extendedprice"))
        .join(broadcast(pcts), Seq("l_returnflag"))
        .select(col("l_returnflag"),
          least(greatest(col("l_extendedprice"), col("p01")), col("p99")).as("v"),
          col("p01"), col("p99"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          // decimal sum (exact, order-free) → double BEFORE the divide:
          // decimal/size division scale rules differ between engines
          (sum(dec(col("v"))).cast("double") / count(lit(1))).as("mean_w"),
          round(min(col("p01")).cast("double"), 4).as("p01"),
          round(min(col("p99")).cast("double"), 4).as("p99"))
        .select(col("l_returnflag"), col("n"), round(col("mean_w"), 4).as("mean_w"),
          col("p01"), col("p99"))
        .orderBy(col("l_returnflag"))
    }),

    // partition-scoped MERGE: seed a lang-partitioned documents
    // snapshot through Merge.mergePartitioned (every doc as op = 'I'),
    // apply a derived I/U/D change set the same way — only the touched
    // lang partitions are read and committed (untouched generations
    // never open; MergeSinkSpec asserts their files byte-identical) —
    // then read the snapshot back through its commit. The oracle
    // replays the merge arbitration over the original parquet, so the
    // result checks BOTH merge semantics AND the partitioned
    // write/commit/read round trip. text travels as md5: content
    // fidelity at hash size. The snapshot rebuilds from scratch each
    // run (dir wiped first, the q112 discipline).
    "q101_merge_partitioned" -> ((s, dir) => {
      val root = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_merge_docs_${Integer.toHexString(dir.hashCode)}_$jvmToken")
      deleteRecursively(root)
      val snap = root.getAbsolutePath
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      Merge.mergePartitioned(s, snap, docs.withColumn("op", lit("I")),
        "doc_id", "lang", "op")
      val changes = docs
        .filter(col("doc_id") % 7 === 0 || col("doc_id") % 11 === 0)
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 0, "D").otherwise("U").as("op"),
          concat(col("text"), lit(" [rev2]")).as("text"),
          col("lang"), col("source"),
          (col("n_chars") + lit(7L)).as("n_chars"))
        .unionByName(docs.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + lit(1000000L)).as("doc_id"),
            lit("I").as("op"), col("text"), lit("xx").as("lang"),
            lit("synthetic").as("source"), col("n_chars")))
      Merge.mergePartitioned(s, snap, changes, "doc_id", "lang", "op")
      Merge.readSnapshot(s, snap)
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars").cast("long").as("n_chars"),
          md5(col("text")).as("text_md5"))
        .orderBy(col("doc_id"))
    }),

    // q91's production form: the history side is a MATERIALIZED
    // fingerprint index (built here from the standing corpus, then
    // treated as read-only), and admission joins the daily batch
    // against that narrow parquet — one scan of the batch text, one
    // scan of the 8-byte-per-doc index, NO history text rescan
    // (plan-asserted in PlanShapeSpec). Same flags, same oracle shape
    // as q91 — the equivalence of the two is itself the check that the
    // index swap preserves admission semantics.
    "q102_indexed_dedup" -> ((s, dir) => {
      val idxDir = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_fpindex_${Integer.toHexString(dir.hashCode)}_$jvmToken")
        .getAbsolutePath
      val docs = t(s, dir, "documents")
      FingerprintIndex.build(docs.filter(col("doc_id") % 3 =!= 0), idxDir)
      FingerprintIndex.admit(s, docs.filter(col("doc_id") % 3 === 0), idxDir)
        .orderBy(col("doc_id"))
    }),

    // IVF-PQ — q50's inverted lists stacked on q89's ADC scan, the
    // classic two-tier ANN store (probe a partition-pruned code table,
    // re-rank candN on real vectors). md5-picked quantizers keep every
    // decision replayable: the oracle composes the q50 and q89 CTE
    // chains verbatim and must match rank for rank.
    "q103_ann_ivfpq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 10), k = 5,
          nlist = 8, nprobe = 3, m = 4, ksub = 8, candN = 20, dim = 64)
        .orderBy(col("query_id"), col("rank"))
    }),

    // bucketed co-located join: both sides pre-shuffled at WRITE time
    // (bucketBy into the metastore), so the daily repeated join reuses
    // the on-disk HashPartitioning — zero exchanges on either join side
    // (BucketingSpec plan-asserts with broadcast disabled; at this sf
    // the planner may still elect broadcast — also exchange-free). The
    // oracle replays the plain join: layout must not change results.
    "q104_bucketed_join" -> ((s, dir) => {
      // per-JVM scratch DATABASE (location under tmpdir, wiped by the
      // jvmToken exit hook): the default warehouse path is shared by
      // concurrent driver processes, and two overwriting saveAsTable
      // writers would race on the same directory (the q95 scratch
      // lesson applied to managed tables). The session catalog itself
      // is in-memory per process, so only the DIRECTORY needs isolating.
      val bdb = s"bkt_$jvmToken"
      val bloc = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_bkt_${Integer.toHexString(dir.hashCode)}_$jvmToken")
        .getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS $bdb LOCATION '$bloc'")
      val suf = Integer.toHexString(dir.hashCode)
      Bucketing.writeBucketed(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice")),
        s"$bdb.bkt_orders_$suf", "o_custkey", buckets = 8)
      Bucketing.writeBucketed(
        t(s, dir, "customer").select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment")),
        s"$bdb.bkt_customer_$suf", "o_custkey", buckets = 8)
      Bucketing.colocatedJoin(s, s"$bdb.bkt_orders_$suf",
          s"$bdb.bkt_customer_$suf", "o_custkey")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"))
        .orderBy(col("c_mktsegment"))
    }),

    // the SEEDED fold re-draw (q99's advice follow-up) under the same
    // hard oracle: hashing id:seed must give a different — but equally
    // deterministic, engine-replayable — 80/10/10 assignment.
    "q105_dataset_split_seeded" -> ((s, dir) => {
      val counts = t(s, dir, "documents")
        .select(col("lang"),
          operators.DatasetSplit.splitCol(col("doc_id"), seed = "fold2").as("split"))
        .groupBy("lang", "split").agg(count(lit(1)).as("n_docs"))
      counts
        .withColumn("share", round(col("n_docs")
          / sum(col("n_docs")).over(Window.partitionBy("lang")).cast("double"), 4))
        .orderBy(col("lang"), col("split"))
    }),

    // SemDeDup-shaped semantic dedup: coarse-quantizer clusters bound
    // the pairwise candidate set (zero-shuffle literal-centroid
    // assignment, the q96 quantizer); within each cluster a PAIRWISE
    // drop rule — b is dropped when ANY lower-cosc item (kept or
    // itself dropped) is >= threshold-similar to it. NOT the greedy
    // first-wins chain rule: on a chain a<b<c with sim(a,b) and
    // sim(b,c) but not sim(a,c), greedy keeps {a,c} while this (and
    // the DuckDB oracle, which mirrors it) keeps {a} only.
    // k = 0: scale-adaptive √N clustering (floor 8) — the oracle
    // derives the identical k from its own count, so the gate replays
    // the same clustering at every scale
    "q106_semantic_dedup" -> ((s, dir) => {
      Dedup.semanticDedup(t(s, dir, "embeddings"), k = 0, threshold = 0.95)
        .orderBy(col("vec_id"))
    }),

    // mixture materialization: q93's implied-epochs weights turned into
    // an actual replicated/sampled corpus — floor(w) copies per doc +
    // one more on a portable id-hash draw, zero joins, zero shuffles.
    "q107_mixture_sample" -> ((s, dir) => {
      operators.Mixing.materialize(t(s, dir, "documents"), "doc_id", "source",
          q107Weights.toMap, salt = "mix1")
        .orderBy(col("doc_id"), col("copy_idx"))
    }),

    // trained IVF-PQ (iters > 0 refines BOTH quantizers: spherical
    // k-means centers + per-subspace L2 books) — the production
    // configuration of q103's md5-picked form. Trained quantizers
    // inherit fp accumulation ORDER from partitioning, so the full
    // result set is not mirrorable; the cross-engine contract is
    // aggregate recall vs the exact brute-force top-k computed IN the
    // query (the q71 rationale). Two pinned invariants: an absolute
    // floor of ≥1 true hit/query on average (10 of 50 — the lossy ADC
    // stage caps IVF-PQ recall well below q71's plain-IVF 40% floor on
    // this clusterless corpus: observed 12–16 of 50 trained vs 9–14
    // md5-picked; a broken quantizer/probe/ADC path scores ~0), and
    // `trained_not_worse`: the trained run must recover at least as
    // many true neighbors as the DETERMINISTIC md5-picked run on
    // identical data and identical k/nlist/nprobe/m/candN — training
    // that degrades recall is a defect this query turns red. The
    // md5 baseline is fully replayable (q103 mirrors it rank-for-rank)
    // so the comparison is anchored, not two drifting measurements.
    // nlist/nprobe = 0 (scale-adaptive √N config — see q71): the fixed
    // (8, 3) config failed its own recall bound at sf1; the adaptive
    // config is what makes these invariants hold at ANY corpus size
    // with no manual retuning.
    "q108_ann_ivfpq_trained" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(e, q, k = 5)
        .select(col("query_id"), col("item_id"))
      def nHit(iters: Int, as: String) =
        Similarity.ivfPqTopK(e, q, k = 5, nlist = 0, nprobe = 0,
            m = 4, ksub = 8, candN = 0, dim = 64, iters = iters)
          .select(col("query_id"), col("item_id"))
          .join(exact, Seq("query_id", "item_id"))
          .agg(count(lit(1)).as(as))
      q.agg(count(lit(1)).as("n_queries"))
        .crossJoin(nHit(3, "n_hit_trained"))
        .crossJoin(nHit(0, "n_hit_md5"))
        .select(col("n_queries"), (col("n_queries") * 5).as("total_possible"),
          (col("n_hit_trained") >= col("n_queries")).as("recall_ok"),
          (col("n_hit_trained") >= col("n_hit_md5")).as("trained_not_worse"))
    }),

    // the materialized IVF store driven end-to-end as a declared query:
    // build once (md5-picked quantizers; the narrow (item_id, codes)
    // table and the codebooks persisted alongside the vectors, all
    // partitionBy(list_id)), then ADC-search the STORE — the probed
    // lists push down as a static partition filter on the code table,
    // and per-query work no longer includes encoding the corpus (paid
    // at build). Deterministic quantizers ⇒ results equal q103's
    // per-query operator rank for rank, so the oracle is the same full
    // replay — which also pins that build+search introduces no drift.
    // the store's RECALL-TARGETED operating point live end-to-end:
    // build → calibrate (the measured recall-vs-nprobe curve persisted
    // as store metadata) → search at nprobe = 0, which now means "the
    // calibrated depth", not the constant 37.5% probed share. The
    // oracle replays the WHOLE calibration — ground-truth top-k, probe
    // ranks, cumulative recall, the chosen depth — so a drift anywhere
    // in the measurement or its consumption hash-mismatches.
    "q109_ann_ivf_store" -> ((s, dir) => {
      val store = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_ivfstore_${Integer.toHexString(dir.hashCode)}_$jvmToken")
        .getAbsolutePath
      val e = t(s, dir, "embeddings")
      Similarity.buildIvfStore(e, store, nlist = 8, iters = 0, m = 4,
        ksub = 8, dim = 64)
      val q = e.filter(col("vec_id") < 10) // 10 ≤ sampleN: sample = all
      Similarity.calibrateIvfStore(s, store, q, k = 5,
        targetRecall = 0.9, sampleN = 32)
      Similarity.searchIvfStoreAdc(s, q, store,
          k = 5, nprobe = 0, candN = 20)
        .orderBy(col("query_id"), col("rank"))
    }),

    // the object-store-safe MERGE commit protocol driven end-to-end:
    // the q94 change set applied through MergeSink.applyBatch —
    // immutable generation dirs + one pointer file, NO renames
    // anywhere — in two batches (the base as inserts,
    // then the I/U/D set), read back through the manifest pointer.
    // Same arbitration, same oracle as q94: the commit protocol must
    // be invisible to results. Re-runs are idempotent (I/U collapse to
    // upsert; D of an absent key is a no-op), so the bench's
    // rebuild-per-run shape converges to the same snapshot.
    "q110_merge_manifest" -> ((s, dir) => {
      val snap = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_merge_manifest_${Integer.toHexString(dir.hashCode)}_$jvmToken")
        .getAbsolutePath + "/snap"
      val cust = t(s, dir, "customer")
      val base = cust.select(col("c_custkey"), lit("I").as("op"),
        lit(1L).as("seq"), col("c_name"), col("c_acctbal"))
      val changes = cust
        .filter(col("c_custkey") % 7 === 0 || col("c_custkey") % 11 === 0)
        .select(col("c_custkey"),
          when(col("c_custkey") % 11 === 0, "D").otherwise("U").as("op"),
          lit(2L).as("seq"),
          concat(col("c_name"), lit("_v2")).as("c_name"),
          (col("c_acctbal") + 100.0).as("c_acctbal"))
        .unionByName(cust.filter(col("c_custkey") % 13 === 0)
          .select((col("c_custkey") + 1000000L).as("c_custkey"),
            lit("I").as("op"), lit(2L).as("seq"),
            concat(col("c_name"), lit("_new")).as("c_name"),
            lit(0.0).as("c_acctbal")))
      streaming.MergeSink.applyBatch(s, base, snap, "c_custkey", "op", "seq")
      streaming.MergeSink.applyBatch(s, changes, snap, "c_custkey", "op", "seq")
      Merge.readSnapshot(s, snap)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .orderBy(col("c_custkey"))
    }),

    // the daily near-dup admission job as a declared query: history's
    // signatures come from the MATERIALIZED store (built here from the
    // standing corpus, then treated read-only — the q102 split), and
    // the day's batch bands against it; history TEXT is never re-read.
    // Signatures are pure functions of the text, so the incremental
    // run equals the full-corpus q20 pipeline restricted to
    // batch-touching pairs (the DedupSpec equivalence property made
    // oracle-checkable): the oracle replays q20 over ALL documents,
    // keeps pairs touching the batch, and re-orients to the admission
    // convention (history id first; batch-batch pairs canonical).
    "q111_incremental_neardup" -> ((s, dir) => {
      val store = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_sigstore_${Integer.toHexString(dir.hashCode)}_$jvmToken")
        .getAbsolutePath
      val docs = t(s, dir, "documents")
      val sigs = Dedup.SigStore(Dedup.MinHash(portable = true),
        Dedup.Dir(store))
      sigs.build(docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text")
      sigs.pairs(s, docs.filter(col("doc_id") % 3 === 0), "doc_id", "text",
          threshold = 0.4)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // time travel as a declared query: the audit delta between two
    // snapshot versions, computed ONLY from the snapshot's retained
    // immutable generations (no change log kept anywhere) —
    // v_old through readSnapshotAt, v_live through the pointer,
    // full-outer on the key. The snapshot rebuilds from scratch each
    // run (dir wiped first) so commit version numbers stay
    // deterministic under Bench/Profile re-runs.
    "q112_snapshot_delta" -> ((s, dir) => {
      val root = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_tt_${Integer.toHexString(dir.hashCode)}_$jvmToken")
      deleteRecursively(root)
      val snap = root.getAbsolutePath + "/snap"
      val cust = t(s, dir, "customer")
      val base = cust.select(col("c_custkey"), lit("I").as("op"),
        lit(1L).as("seq"), col("c_name"), col("c_acctbal"))
      val changes = cust
        .filter(col("c_custkey") % 7 === 0 || col("c_custkey") % 11 === 0)
        .select(col("c_custkey"),
          when(col("c_custkey") % 11 === 0, "D").otherwise("U").as("op"),
          lit(2L).as("seq"),
          concat(col("c_name"), lit("_v2")).as("c_name"),
          (col("c_acctbal") + 100.0).as("c_acctbal"))
        .unionByName(cust.filter(col("c_custkey") % 13 === 0)
          .select((col("c_custkey") + 1000000L).as("c_custkey"),
            lit("I").as("op"), lit(2L).as("seq"),
            concat(col("c_name"), lit("_new")).as("c_name"),
            lit(0.0).as("c_acctbal")))
      streaming.MergeSink.applyBatch(s, base, snap, "c_custkey", "op", "seq")
      streaming.MergeSink.applyBatch(s, changes, snap, "c_custkey", "op", "seq")
      val vOld = Merge.snapshotVersions(s, snap).head
      val old = Merge.readSnapshotAt(s, snap, vOld)
        .select(col("c_custkey").as("k_old"), col("c_name").as("name_old"),
          col("c_acctbal").as("bal_old"))
      val live = Merge.readSnapshot(s, snap)
        .select(col("c_custkey").as("k_new"), col("c_name").as("name_new"),
          col("c_acctbal").as("bal_new"))
      old.join(live, col("k_old") === col("k_new"), "full_outer")
        .filter(col("k_old").isNull || col("k_new").isNull ||
          col("name_old") =!= col("name_new") ||
          col("bal_old") =!= col("bal_new"))
        .select(coalesce(col("k_new"), col("k_old")).as("c_custkey"),
          when(col("k_old").isNull, "insert")
            .when(col("k_new").isNull, "delete")
            .otherwise("update").as("change"),
          col("name_old"), col("name_new"), col("bal_old"), col("bal_new"))
        .orderBy(col("c_custkey"))
    }),

    // the q112 capability through the pure-SQL surface: the
    // graft_snapshot TABLE FUNCTION (registered by GraftFunctions /
    // GraftExtensions) resolves the versioned read inside spark.sql —
    // no Scala API in the query text. Version 1 is the base batch, so
    // reading it AFTER the second commit proves retained history stays
    // addressable from SQL. Dir wiped per run for deterministic
    // version numbers (the q112 discipline).
    "q113_sql_time_travel" -> ((s, dir) => {
      val root = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_sqltt_${Integer.toHexString(dir.hashCode)}_$jvmToken")
      deleteRecursively(root)
      val snap = root.getAbsolutePath + "/snap"
      val cust = t(s, dir, "customer") // also registers graft_snapshot
      streaming.MergeSink.applyBatch(s,
        cust.select(col("c_custkey"), lit("I").as("op"), lit(1L).as("seq"),
          col("c_name"), col("c_acctbal")),
        snap, "c_custkey", "op", "seq")
      streaming.MergeSink.applyBatch(s,
        cust.filter(col("c_custkey") % 5 === 0)
          .select(col("c_custkey"), lit("U").as("op"), lit(2L).as("seq"),
            concat(col("c_name"), lit("_r2")).as("c_name"),
            (col("c_acctbal") * 2.0).as("c_acctbal")),
        snap, "c_custkey", "op", "seq")
      s.sql(s"""SELECT c_custkey, c_name, c_acctbal
                FROM graft_snapshot('$snap', 1)
                ORDER BY c_custkey""")
    }),

    // incremental clustering as a declared query: standing labels from
    // history-only pairs, folded together with the batch-touching pairs
    // through the contracted-graph CC (zero corpus shuffles, history
    // never re-clustered), must HASH-EQUAL from-scratch clustering of
    // everything — the oracle is q64's recursive-CTE replay verbatim.
    // Pairwise Jaccard is membership-independent, so one generator run
    // serves both sides of the split; it is snapshotted (batch-sized)
    // so the two filters and the final remap never re-derive it.
    "q114_incremental_clusters" -> ((s, dir) => {
      val allPairs = Dedup.ngramJaccardPairs(t(s, dir, "documents"),
        "doc_id", "text", n = 5, threshold = 0.8).localCheckpoint(true)
      val hist = allPairs.filter(
        col("id_a") % 10 =!= 0 && col("id_b") % 10 =!= 0)
      val fresh = allPairs.filter(
        col("id_a") % 10 === 0 || col("id_b") % 10 === 0)
      val labels = Dedup.connectedComponents(hist, "id_a", "id_b")
      Dedup.incrementalComponents(labels, fresh)
        .select(col("id").cast("long").as("doc_id"),
          col("comp").cast("long").as("component"))
        .orderBy(col("doc_id"))
    }),

    // zone-map data skipping over a z-ordered layout: per-file min/max
    // stats prune the file list BEFORE the reader opens anything (the
    // Delta/Iceberg per-file-stats design); the scan re-applies the
    // exact predicate, so skipping must be result-invisible — the
    // oracle is the plain unskipped range filter. ZoneMapSpec asserts
    // the IO side (files actually skipped, stale stats fail loudly).
    "q115_zonemap_scan" -> ((s, dir) => {
      val base = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_zonemap_${Integer.toHexString(dir.hashCode)}_$jvmToken")
      val data = new java.io.File(base, "data").getAbsolutePath
      val stats = new java.io.File(base, "stats").getAbsolutePath
      operators.Layout.zOrdered(t(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", bits = 20, numFiles = 16)
        .write.mode("overwrite").parquet(data)
      operators.ZoneMap.build(s, data, stats,
        Seq("l_orderkey", "l_partkey"))
      operators.ZoneMap.scanRange(s, data, stats, Seq(
          operators.ZoneMap.Range("l_orderkey", 1000L, 3000L),
          operators.ZoneMap.Range("l_partkey", 100L, 400L)))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // bloom-index data skipping for equality probes: the layout hashes
    // on l_suppkey, so every file's l_orderkey RANGE covers the probes
    // (zone maps would prune nothing) — per-file blooms still rule out
    // the files that provably lack the keys. Result-invisible like
    // q115: the oracle is the plain IN filter; BloomIndexSpec asserts
    // the IO side (files skipped, type-cast probes, stale refusal).
    "q116_bloom_index_scan" -> ((s, dir) => {
      val base = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_bloomidx_${Integer.toHexString(dir.hashCode)}_$jvmToken")
      val data = new java.io.File(base, "data").getAbsolutePath
      val stats = new java.io.File(base, "stats").getAbsolutePath
      t(s, dir, "lineitem").repartition(16, col("l_suppkey"))
        .write.mode("overwrite").parquet(data)
      operators.BloomIndex.build(s, data, stats, Seq("l_orderkey"),
        expectedItems = 1000000L)
      operators.BloomIndex.scanIn(s, data, stats, "l_orderkey",
          Seq(7L, 486L, 1123L))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // incremental aggregate rollup: three "daily" batches fold into a
    // standing mergeable-state table (manifest-committed); the serving
    // view never re-reads history — each fold costs one batch-sized
    // map-side-combined shuffle plus the group-count-sized state. The
    // fold must be INVISIBLE in the result: the oracle is the plain
    // from-scratch GROUP BY over the whole table (decimal sums make
    // fold order bit-irrelevant; RollupSpec pins the equivalence and
    // time-travel properties).
    "q117_incremental_rollup" -> ((s, dir) => {
      val store = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_rollup_${Integer.toHexString(dir.hashCode)}_$jvmToken")
        .getAbsolutePath
      val spec = operators.Rollup.Spec(
        keys = Seq("o_orderpriority"), sums = Seq("o_totalprice"),
        mins = Seq("o_orderdate"), maxs = Seq("o_orderdate"))
      val orders = t(s, dir, "orders")
      operators.Rollup.init(s, store,
        orders.filter(pmod(col("o_orderkey"), lit(3)) === 0), spec)
      operators.Rollup.fold(s, store,
        orders.filter(pmod(col("o_orderkey"), lit(3)) === 1), spec)
      operators.Rollup.fold(s, store,
        orders.filter(pmod(col("o_orderkey"), lit(3)) === 2), spec)
      operators.Rollup.finalized(operators.Rollup.read(s, store), spec)
        .orderBy(col("o_orderpriority"))
    }),

    // mergeable approximate-distinct in the standing rollup: exact
    // COUNT(DISTINCT) is the one common aggregate whose state is the
    // value set itself — un-foldable — so the rollup keeps a per-group
    // HLL sketch (lgK=12) whose register-max merge is associative and
    // duplicate-insensitive. The fold-in-any-order estimate must land
    // within 5% (≈3σ at lgK=12) of the exact distinct; the invariant
    // flag makes drift a hash-compare failure (the q31 pattern), and
    // RollupSpec separately pins fold ≡ from-scratch register identity.
    "q118_rollup_ndv" -> ((s, dir) => {
      val store = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_rollup_ndv_${Integer.toHexString(dir.hashCode)}_$jvmToken")
        .getAbsolutePath
      val spec = operators.Rollup.Spec(
        keys = Seq("o_orderpriority"), ndvs = Seq("o_custkey"))
      val orders = t(s, dir, "orders")
      operators.Rollup.init(s, store,
        orders.filter(pmod(col("o_orderkey"), lit(3)) === 0), spec)
      operators.Rollup.fold(s, store,
        orders.filter(pmod(col("o_orderkey"), lit(3)) === 1), spec)
      operators.Rollup.fold(s, store,
        orders.filter(pmod(col("o_orderkey"), lit(3)) === 2), spec)
      val served = operators.Rollup.finalized(
        operators.Rollup.read(s, store), spec)
      val exact = orders.groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("exact_cust"))
      served.join(exact, Seq("o_orderpriority"))
        .select(col("o_orderpriority"), col("n_rows"), col("exact_cust"),
          (abs(col("ndv__o_custkey") - col("exact_cust"))
            <= col("exact_cust").cast("double") * 0.05).as("ndv_ok"))
        .orderBy(col("o_orderpriority"))
    }),

    // materialized decontamination: the eval-set shingles persisted
    // once as a narrow index; the batch check shingles ONLY the batch
    // and broadcast-probes the index — the eval text is never
    // re-tokenized, unlike q76 which re-derives the bench set per run.
    // Same report, same oracle: materialization must be invisible.
    "q119_indexed_contamination" -> ((s, dir) => {
      val idx = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_contidx_${Integer.toHexString(dir.hashCode)}_$jvmToken")
        .getAbsolutePath
      val docs = t(s, dir, "documents")
      operators.ContaminationIndex.build(s, idx,
        docs.filter(col("doc_id") < 10), "text", 5)
      operators.ContaminationIndex.check(s, docs, "doc_id", "text", idx, 5)
        .orderBy(col("doc_id"))
    }),

    // MERGE with schema evolution (Delta autoMerge discipline): the
    // change set carries a column the snapshot has never seen (c_tier)
    // and omits one it does not update (c_name). Updates keep the
    // omitted column's target value, inserts null-fill it, and every
    // pre-existing row gains the new column as NULL — backfill-free
    // evolution, no history rewrite.
    "q120_merge_evolve" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val upd = cust
        .filter(col("c_custkey") % 7 === 0 && col("c_custkey") % 11 =!= 0)
        .select(col("c_custkey"), lit("U").as("op"),
          (col("c_acctbal") + 10.0).as("c_acctbal"),
          when(col("c_acctbal") > 1000.0, lit("gold"))
            .otherwise(lit("std")).as("c_tier"))
      val del = cust.filter(col("c_custkey") % 11 === 0)
        .select(col("c_custkey"), lit("D").as("op"),
          lit(null).cast("double").as("c_acctbal"),
          lit(null).cast("string").as("c_tier"))
      val ins = cust.filter(col("c_custkey") % 13 === 0)
        .select((col("c_custkey") + 1000000).as("c_custkey"),
          lit("I").as("op"), lit(1.5).as("c_acctbal"),
          lit("new").as("c_tier"))
      operators.Merge.mergeBatchEvolve(cust,
          upd.unionByName(del).unionByName(ins), "c_custkey")
        .orderBy(col("c_custkey"))
    }),

    // histogram state in the standing rollup: fixed-bin counts are
    // plain long sums — as foldable and order-invariant as count/sum —
    // so the fold ≡ scratch contract extends to quantiles. lo=5,hi=45
    // deliberately UNDER-covers l_quantity (1..50) to pin the
    // edge-bin clamping; p-quantiles are bin midpoints, bit-exact on
    // both sides.
    "q121_rollup_hist" -> ((s, dir) => {
      val store = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_rollup_hist_${Integer.toHexString(dir.hashCode)}_$jvmToken")
        .getAbsolutePath
      val h = operators.Rollup.HistSpec("l_quantity", 5.0, 45.0, 8)
      val spec = operators.Rollup.Spec(
        keys = Seq("l_returnflag"), hists = Seq(h))
      val li = t(s, dir, "lineitem")
      operators.Rollup.init(s, store,
        li.filter(pmod(col("l_orderkey"), lit(3)) === 0), spec)
      operators.Rollup.fold(s, store,
        li.filter(pmod(col("l_orderkey"), lit(3)) === 1), spec)
      operators.Rollup.fold(s, store,
        li.filter(pmod(col("l_orderkey"), lit(3)) === 2), spec)
      operators.Rollup.read(s, store)
        .select(col("l_returnflag"), col("n_rows"),
          operators.Rollup.histArray(h).getItem(0).as("h_lo"),
          operators.Rollup.histArray(h).getItem(7).as("h_hi"),
          round(operators.Rollup.histQuantile(h, 0.25), 4).as("p25"),
          round(operators.Rollup.histQuantile(h, 0.50), 4).as("p50"),
          round(operators.Rollup.histQuantile(h, 0.90), 4).as("p90"))
        .orderBy(col("l_returnflag"))
    }),

    // merge-on-read deletes: two key-only tombstone appends, the
    // anti-join view, then the physical compact — the oracle is the
    // plain filtered table, so the pre-compact view, the compact, and
    // the post-compact read must all be invisible to the row set.
    "q122_deletion_vectors" -> ((s, dir) => {
      val store = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_dv_${Integer.toHexString(dir.hashCode)}_$jvmToken")
        .getAbsolutePath
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      operators.Merge.mergeWholeManifest(s, store,
        cust.withColumn("op", lit("I")), "c_custkey")
      operators.DeletionVectors.delete(s, store,
        cust.filter(col("c_custkey") % 5 === 0).select("c_custkey"),
        "c_custkey")
      operators.DeletionVectors.delete(s, store,
        cust.filter(col("c_custkey") % 7 === 0).select("c_custkey"),
        "c_custkey")
      val pre = operators.DeletionVectors.read(s, store, "c_custkey")
        .count()
      operators.DeletionVectors.compact(s, store, "c_custkey")
      val post = operators.DeletionVectors.read(s, store, "c_custkey")
      val invisible = pre == post.count() &&
        operators.DeletionVectors.pendingDeletes(s, store) == 0L
      post.select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          lit(invisible).as("pre_eq"))
        .orderBy(col("c_custkey"))
    }),

    // incremental materialized join view: orders ⋈ customer maintained
    // by deltas — two fact folds against the current dim, then a dim
    // delta re-enriching only the affected rows. The oracle is the
    // from-scratch join of the FINAL inputs: the fold sequence must be
    // invisible. Whole-manifest commits BY CHOICE at this view size:
    // the partition-scoped path (Spec.partCol, spec-covered) was
    // measured here at sf1 — 1.7× less commit I/O (126 → 74 MB
    // written) but 1.5× MORE wall time (6.2 → 9.3 s), because a
    // 15k-row view is group-count-sized and the per-commit constants
    // (touched-partition collect, duplicate guard, per-leaf writes)
    // dominate the saved bytes. partCol pays off when the view is
    // corpus-sized — SCALING.md §JoinView records the crossover.
    "q123_join_view" -> ((s, dir) => {
      val store = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_jv_${Integer.toHexString(dir.hashCode)}_$jvmToken")
        .getAbsolutePath
      val spec = operators.JoinView.Spec(
        factKey = "o_orderkey", dimKey = "o_custkey")
      val facts = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val dim = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_name"),
          col("c_acctbal"))
      operators.JoinView.init(s, store,
        facts.filter(pmod(col("o_orderkey"), lit(3)) === 0), dim, spec)
      operators.JoinView.foldFacts(s, store,
        facts.filter(pmod(col("o_orderkey"), lit(3)) === 1), dim, spec)
      operators.JoinView.foldFacts(s, store,
        facts.filter(pmod(col("o_orderkey"), lit(3)) === 2), dim, spec)
      val delta = dim.filter(col("o_custkey") % 10 === 0)
        .select(col("o_custkey"),
          concat(lit("U:"), col("c_name")).as("c_name"),
          (col("c_acctbal") + 100.0).as("c_acctbal"))
      operators.JoinView.foldDim(s, store, delta, spec)
      operators.JoinView.read(s, store)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("c_name"), col("c_acctbal"))
        .orderBy(col("o_orderkey"))
    }),

    // data-quality constraint report: every row-level check in ONE
    // aggregate pass, uniqueness one map-combined groupBy, referential
    // integrity one anti-join. The 50k price ceiling deliberately
    // FAILS so a nonzero violation count is under oracle too.
    "q124_constraints" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      operators.Constraints.report(s, li, Seq(
          operators.Constraints.NotNull("l_orderkey"),
          operators.Constraints.InRange("l_quantity", 1.0, 50.0),
          operators.Constraints.InRange("l_extendedprice", 0.0, 50000.0),
          operators.Constraints.InSet("l_returnflag", Seq("A", "N", "R")),
          operators.Constraints.Unique(Seq("l_orderkey", "l_linenumber")),
          operators.Constraints.Ref("l_orderkey",
            t(s, dir, "orders"), "o_orderkey")))
        .withColumnRenamed("check", "chk")
        .orderBy(col("chk"))
    }),

    // distribution drift: per-group PSI of l_quantity between the
    // pre/post-1998-07 ship slices (the fixture's date range is
    // 1995..2001). Inner-join group semantics: only flags present in
    // BOTH slices report — mirrored in the oracle via INTERSECT.
    "q125_drift_psi" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val h = operators.Rollup.HistSpec("l_quantity", 0.0, 50.0, 10)
      operators.Drift.psi(
          li.filter(col("l_shipdate") < lit("1998-07-01").cast("date")),
          li.filter(col("l_shipdate") >= lit("1998-07-01").cast("date")),
          Seq("l_returnflag"), h)
        .orderBy(col("l_returnflag"))
    }),

    // incremental data card: the orders datasheet (row count, null
    // count, sum/mean, date range, priority NDV, price median from
    // standing histogram state) folded in three batches — the oracle
    // recomputes every stat from scratch, so the standing card must be
    // invisible. NDV emitted directly: 5 keys is deep inside HLL's
    // exact (sparse) regime on both builds.
    "q126_data_card" -> ((s, dir) => {
      val store = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_card_${Integer.toHexString(dir.hashCode)}_$jvmToken")
        .getAbsolutePath
      val h = operators.Rollup.HistSpec("o_totalprice", 0.0, 500000.0, 10)
      val card = operators.DataCard.Card(
        nulls = Seq("o_orderstatus"), sums = Seq("o_totalprice"),
        mins = Seq("o_orderdate"), maxs = Seq("o_orderdate"),
        ndvs = Seq("o_orderpriority"), hists = Seq(h),
        vars = Seq("o_totalprice"))
      val orders = t(s, dir, "orders")
      operators.DataCard.init(s, store,
        orders.filter(pmod(col("o_orderkey"), lit(3)) === 0), card)
      operators.DataCard.fold(s, store,
        orders.filter(pmod(col("o_orderkey"), lit(3)) === 1), card)
      operators.DataCard.fold(s, store,
        orders.filter(pmod(col("o_orderkey"), lit(3)) === 2), card)
      val row = operators.DataCard.read(s, store, card)
        .select(col("n_rows"), col("nulls__o_orderstatus"),
          col("sum__o_totalprice"), col("avg__o_totalprice"),
          round(col("var__o_totalprice"), 4).as("var_price"),
          round(col("stddev__o_totalprice"), 4).as("stddev_price"),
          col("min__o_orderdate"), col("max__o_orderdate"),
          col("ndv__o_orderpriority").cast("long").as("ndv_prio"))
      val p50 = operators.Rollup.read(s, store)
        .select(round(operators.Rollup.histQuantile(h, 0.5), 4)
          .as("p50_price"))
      row.crossJoin(p50).orderBy(col("n_rows"))
    }),

    // token-budget mix planning: per-language token inventory (one
    // aggregate — plan-time never re-tokenizes per target) → implied-
    // epoch weights for a 1M-token 50/20/10/10/10 mix. Σ wt·tokens =
    // budget by construction; the oracle replays the arithmetic.
    "q127_token_mix" -> ((s, dir) => {
      val totals = t(s, dir, "documents").groupBy(col("lang"))
        .agg(sum(T.tokenCount(col("text")).cast("long")).as("tokens"))
      operators.Mixing.planTokenBudget(totals, "lang", "tokens",
          Map("en" -> 0.5, "zh" -> 0.2, "de" -> 0.1,
            "es" -> 0.1, "fr" -> 0.1), 1000000L)
        .withColumn("wt", round(col("wt"), 6))
        .orderBy(col("lang"))
    }),

    // weighted reservoir per language (Efraimidis–Spirakis, n_chars as
    // the quality weight): key = u^(1/w) with the PORTABLE id-hash
    // draw, top-5 per group on the bounded-heap operator. The oracle
    // replays the identical key arithmetic and window-ranks it.
    "q128_weighted_sample" -> ((s, dir) => {
      operators.Sampling.weightedPerGroup(
          t(s, dir, "documents").select(col("lang"), col("doc_id"),
            col("n_chars")),
          Seq("lang"), "doc_id", "n_chars", 5)
        .select(col("lang"), col("rk"), col("doc_id"))
        .orderBy(col("lang"), col("rk"))
    }),

    // dispersion in the standing rollup: a DECIMAL(38,4) sum-of-squares
    // folds exactly like the plain sums (order-invariant, fold ≡
    // scratch bit-for-bit — RollupSpec pins it), so variance/stddev
    // serve from the state without re-reading history. Both engines
    // derive var = (sq − sum²/n)/n in DOUBLE from the SAME exact
    // decimal sums — identical operands, identical operation order.
    "q129_rollup_variance" -> ((s, dir) => {
      val store = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_rollup_var_${Integer.toHexString(dir.hashCode)}_$jvmToken")
        .getAbsolutePath
      val spec = operators.Rollup.Spec(
        keys = Seq("o_orderpriority"), sums = Seq("o_totalprice"),
        vars = Seq("o_totalprice"))
      val orders = t(s, dir, "orders")
      operators.Rollup.init(s, store,
        orders.filter(pmod(col("o_orderkey"), lit(3)) === 0), spec)
      operators.Rollup.fold(s, store,
        orders.filter(pmod(col("o_orderkey"), lit(3)) === 1), spec)
      operators.Rollup.fold(s, store,
        orders.filter(pmod(col("o_orderkey"), lit(3)) === 2), spec)
      operators.Rollup.finalized(operators.Rollup.read(s, store), spec)
        .select(col("o_orderpriority"), col("n_rows"),
          round(col("var__o_totalprice"), 4).as("var_price"),
          round(col("stddev__o_totalprice"), 4).as("stddev_price"))
        .orderBy(col("o_orderpriority"))
    }),

    // the data card read back through PURE SQL: the store is built
    // programmatically (two folds), then served by the graft_card(dir)
    // table function, which reconstructs the Card from the persisted
    // _graft_spec.json sidecar — histogram bin edges included, which
    // the state schema alone cannot encode. The Q2 ad-hoc-SQL story
    // extended to the ops surface.
    "q130_sql_card" -> ((s, dir) => {
      val store = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_sqlcard_${Integer.toHexString(dir.hashCode)}_$jvmToken")
        .getAbsolutePath
      val card = operators.DataCard.Card(
        nulls = Seq("lang"), sums = Seq("n_chars"),
        mins = Seq("n_chars"), maxs = Seq("n_chars"),
        ndvs = Seq("source"),
        hists = Seq(operators.Rollup.HistSpec("n_chars", 0.0, 2000.0, 8)),
        vars = Seq("n_chars"))
      val docs = t(s, dir, "documents") // also registers graft_card
      operators.DataCard.init(s, store,
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), card)
      operators.DataCard.fold(s, store,
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), card)
      s.sql(
        s"""SELECT n_rows, nulls__lang, sum__n_chars, avg__n_chars,
              round(var__n_chars, 4) AS var_nc,
              round(stddev__n_chars, 4) AS std_nc,
              min__n_chars, max__n_chars,
              CAST(ndv__source AS BIGINT) AS ndv_src,
              element_at(hist__n_chars, 1) AS h_lo,
              element_at(hist__n_chars, 8) AS h_hi
            FROM graft_card('$store') ORDER BY n_rows""")
    }),

    // the data-contract report through PURE SQL: graft_constraints
    // parses its compact check DSL (incl. a pred whose SQL body rides
    // after the second colon and a ref against another parquet path)
    // and returns the same one-row-per-check report the programmatic
    // q124 produces. Deliberately different checks from q124 so the
    // two queries cannot mask each other.
    "q131_sql_constraints" -> ((s, dir) => {
      t(s, dir, "lineitem") // registers graft_constraints
      val spec = "not_null:l_orderkey;range:l_quantity:1:25;" +
        "set:l_linestatus:F|O;pred:low_disc:l_discount <= 0.05;" +
        "unique:l_orderkey,l_linenumber;" +
        s"ref:l_partkey:$dir/part.parquet:p_partkey"
      s.sql(
        s"""SELECT check AS chk, violations, n_rows, pass
            FROM graft_constraints('$dir/lineitem.parquet', '$spec')
            ORDER BY chk""")
    }),

    // the SHARDED IVF store end-to-end with REAL probe pruning: the
    // corpus splits into 2 portable-hash shards, each with its own
    // md5-picked 4-list sub-quantizer; every query probes 2 lists PER
    // shard and the per-shard exact candidates merge into one global
    // top-k. The oracle replays the whole construction — hash split,
    // per-shard centroid picks, per-shard assignment and probe ranks,
    // the union, the global ranking — so the exact-merge claim is
    // hash-checked, not asserted.
    "q132_ann_sharded" -> ((s, dir) => {
      val store = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_ivfshard_${Integer.toHexString(dir.hashCode)}_$jvmToken")
        .getAbsolutePath
      val e = t(s, dir, "embeddings")
      Similarity.buildShardedIvfStore(e, store, shards = 2, nlist = 4,
        iters = 0, dim = 64)
      Similarity.searchShardedIvfStore(s, e.filter(col("vec_id") < 10),
          store, k = 5, nprobe = 2)
        .orderBy(col("query_id"), col("rank"))
    }),

    // the WIDE (w = 120 portable / 128 production) SimHash near-dup
    // path — SimHash's honest n²/buckets scale lever as a declared
    // query: two independent md5-derived 60-bit draws per token (the
    // second salted), two-long signature, pigeonhole banding with
    // boundary-splicing chunk keys, summed-popcount verify. The oracle
    // replays both signatures, every spliced chunk key, and the
    // hamming sum bit for bit.
    "q133_simhash_wide" -> ((s, dir) => {
      Dedup.simhashPairs128(t(s, dir, "documents"), "doc_id", "text",
          maxHamming = 6, portable = true)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // the ROUTED sharded IVF store — the per-query COST lever on top
    // of q132's capacity lever: a 2-centroid super-quantizer files
    // each item into the shard of its nearest super-centroid
    // (cluster-disjoint split), and each query probes ONLY its top
    // routed shard (routeShards=1 ⇒ probed-shard share 1/2) with 2
    // list probes inside it. The oracle replays the whole construction
    // — global md5 super pick, argmax shard assignment, per-shard md5
    // centroid picks, the route rank, per-shard probe ranks within
    // routed shards only, the global ranking — so the routing math is
    // hash-checked, not asserted.
    "q134_ann_routed" -> ((s, dir) => {
      val store = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_ivfrouted_${Integer.toHexString(dir.hashCode)}_$jvmToken")
        .getAbsolutePath
      val e = t(s, dir, "embeddings")
      Similarity.buildRoutedIvfStore(e, store, shards = 2, nlist = 4,
        iters = 0, dim = 64)
      Similarity.searchRoutedIvfStore(s, e.filter(col("vec_id") < 10),
          store, k = 5, nprobe = 2, routeShards = 1)
        .orderBy(col("query_id"), col("rank"))
    }),

    // hot-shard SPLIT on the routed store (the r12 incremental
    // rebalance): build 2 cluster-disjoint shards, split the hot one —
    // its items re-file by global argmax over the NEW super set (one
    // trained child centroid pair; training is float-order dependent,
    // so the split GEOMETRY is machine-specific) — then search with
    // full route depth and exhaustive per-shard probes. The invariant
    // the oracle pins is the one that matters and the one that IS
    // deterministic: however the split lands, the store must still
    // serve exactly the corpus — the exhaustive routed search equals
    // plain brute-force top-k bit for bit (disjointness, completeness,
    // no loss/duplication through delete-rebuild-append, hash-checked
    // cross-engine; the q71/q108 invariant-flag discipline, except
    // here the whole result set is mirrorable).
    "q135_ann_split" -> ((s, dir) => {
      val store = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_ivfsplit_${Integer.toHexString(dir.hashCode)}_$jvmToken")
        .getAbsolutePath
      val e = t(s, dir, "embeddings")
      Similarity.buildRoutedIvfStore(e, store, shards = 2, nlist = 4,
        iters = 0, dim = 64)
      Similarity.splitHotShard(s, store, splitIters = 2, nlist = 4)
      Similarity.searchRoutedIvfStore(s, e.filter(col("vec_id") < 8),
          store, k = 6, nprobe = 64, routeShards = 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Item-level DELETE/forget for the ANN store (round-13 lead): the
    // takedown path a training-data pipeline runs routinely, priced as
    // tombstones instead of a store rebuild. The query gates the WHOLE
    // lifecycle deterministically: build a routed store, tombstone one
    // known subset, COMPACT (physical reclaim + tombstone clear),
    // tombstone a second subset (still standing at search time), then
    // an exhaustive routed search must equal brute-force top-k over
    // exactly the remaining corpus — any resurrected, lingering, or
    // over-deleted item flips some query's ranking and the hash.
    "q136_ann_delete" -> ((s, dir) => {
      val store = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_ivfdelete_${Integer.toHexString(dir.hashCode)}_$jvmToken")
        .getAbsolutePath
      val e = t(s, dir, "embeddings")
      Similarity.buildRoutedIvfStore(e, store, shards = 2, nlist = 4,
        iters = 0, dim = 64)
      Similarity.deleteFromShardedIvfStore(s,
        e.filter(col("vec_id") % 7 === 3).select("vec_id"), store)
      (0 until 2).foreach { i =>
        if (new java.io.File(s"$store/shard=$i").exists())
          Similarity.compactIvfStore(s, s"$store/shard=$i")
      }
      Similarity.deleteFromShardedIvfStore(s,
        e.filter(col("vec_id") % 11 === 5).select("vec_id"), store)
      Similarity.searchRoutedIvfStore(s, e.filter(col("vec_id") < 8),
          store, k = 6, nprobe = 64, routeShards = 2)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Item-level DELETE for the SIGNATURE store (the q136 lifecycle,
    // dedup side): build the q111 history store, tombstone one history
    // subset, COMPACT (physical reclaim via the rename-swap), tombstone
    // a second subset (standing at admission time), then admit the
    // q111 batch — the emitted near-dup pairs must be exactly the full
    // q111 replay minus every pair whose history side was deleted: a
    // deleted doc stops being a dup source, whether its rows are
    // physically gone or merely tombstoned.
    "q137_sigstore_delete" -> ((s, dir) => {
      val store = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_sigdel_${Integer.toHexString(dir.hashCode)}_$jvmToken")
        .getAbsolutePath
      val docs = t(s, dir, "documents")
      val history = docs.filter(col("doc_id") % 3 =!= 0)
      val sigs = Dedup.SigStore(Dedup.MinHash(portable = true),
        Dedup.Dir(store))
      sigs.build(history, "doc_id", "text")
      sigs.delete(s, history.filter(col("doc_id") % 5 === 1).select("doc_id"))
      sigs.compact(s)
      sigs.delete(s, history.filter(col("doc_id") % 7 === 2).select("doc_id"))
      sigs.pairs(s, docs.filter(col("doc_id") % 3 === 0), "doc_id", "text",
          threshold = 0.4)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // mergeColdShards' deterministic invariant (the q135 pattern, in
    // reverse): build a 3-shard routed store, merge the two coldest
    // into one (last shard renamed into the freed slot — ids stay
    // dense), then the exhaustive routed search over the 2 remaining
    // shards must equal brute-force top-k over the FULL corpus — any
    // item the merge lost, duplicated, or misfiled flips the hash.
    "q138_ann_merge" -> ((s, dir) => {
      val store = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_ivfmerge_${Integer.toHexString(dir.hashCode)}_$jvmToken")
        .getAbsolutePath
      val e = t(s, dir, "embeddings")
      Similarity.buildRoutedIvfStore(e, store, shards = 3, nlist = 4,
        iters = 0, dim = 64)
      Similarity.mergeColdShards(s, store, nlist = 4)
      Similarity.searchRoutedIvfStore(s, e.filter(col("vec_id") < 8),
          store, k = 6, nprobe = 64, routeShards = 2)
        .orderBy(col("query_id"), col("rank"))
    }),

    // The CDC UPSERT lifecycle (round 13): a routed store built from a
    // base corpus, then TWO CDC batches applied through the same core
    // the streaming ingest dispatches to (applyCdcBatch) — inserts of
    // the held-out ids, updates that REPLACE vectors (reversed
    // embeddings — re-filed wherever the new vector routes), deletes,
    // same-batch I+D and U+D resolution (latest seq wins), and a
    // second batch that REVIVES a taken-down subset via explicit
    // upsert. The exhaustive routed search must equal brute-force
    // top-k over exactly the NET state — any resurrected old vector,
    // lost replacement, lingering tombstone, or misresolved op flips
    // some query's ranking and the hash.
    "q139_ann_cdc" -> ((s, dir) => {
      val store = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_ivfcdc_${Integer.toHexString(dir.hashCode)}_$jvmToken")
        .getAbsolutePath
      val e = t(s, dir, "embeddings")
      Similarity.buildRoutedIvfStore(e.filter(col("vec_id") % 5 =!= 4),
        store, shards = 2, nlist = 4, iters = 0, dim = 64)
      val b1 = e.filter(col("vec_id") % 5 === 4)
          .select(col("vec_id"), col("embedding"),
            lit("I").as("op"), lit(1L).as("seq"))
        .unionByName(e.filter(col("vec_id") % 9 === 2 &&
            col("vec_id") % 2 === 0)
          .select(col("vec_id"), reverse(col("embedding")).as("embedding"),
            lit("U").as("op"), lit(2L).as("seq")))
        .unionByName(e.filter(col("vec_id") % 7 === 1)
          .select(col("vec_id"), col("embedding"),
            lit("D").as("op"), lit(3L).as("seq")))
      Similarity.applyCdcBatch(s, b1, store)
      val b2 = e.filter(col("vec_id") % 7 === 1 &&
          col("vec_id") % 3 === 0 && col("vec_id") % 2 === 0)
          .select(col("vec_id"), col("embedding"),
            lit("U").as("op"), lit(10L).as("seq"))
        .unionByName(e.filter(col("vec_id") % 13 === 6)
          .select(col("vec_id"), col("embedding"),
            lit("D").as("op"), lit(11L).as("seq")))
      Similarity.applyCdcBatch(s, b2, store)
      Similarity.searchRoutedIvfStore(s, e.filter(col("vec_id") < 8),
          store, k = 6, nprobe = 64, routeShards = 2)
        .orderBy(col("query_id"), col("rank"))
    }),

    // The signature-store UPSERT lifecycle (round 13, the q139
    // pattern on the dedup side): build the q111 history store, take
    // one subset down (still standing at admission), then UPSERT a
    // mutated subset — token-reversed text under the SAME ids, the
    // mutable-id case the mutatedRedeliveries audit flags — including
    // ids the takedown hit (the upsert revives them with the new
    // content). Admitting the q111 batch must emit exactly the pairs
    // of a from-scratch replay over the NET history: old content that
    // keeps matching, new content that fails to, or a takedown that
    // resurrects all flip the hash.
    "q140_sigstore_upsert" -> ((s, dir) => {
      val store = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_sigups_${Integer.toHexString(dir.hashCode)}_$jvmToken")
        .getAbsolutePath
      val docs = t(s, dir, "documents")
      val history = docs.filter(col("doc_id") % 3 =!= 0)
      val sigs = Dedup.SigStore(Dedup.MinHash(portable = true),
        Dedup.Dir(store))
      sigs.build(history, "doc_id", "text")
      sigs.delete(s, history.filter(col("doc_id") % 7 === 2).select("doc_id"))
      val mutated = history.filter(col("doc_id") % 5 === 1)
        .select(col("doc_id"),
          concat_ws(" ", reverse(split(col("text"), "\\s+")))
            .as("text"))
      sigs.upsert(s, mutated, "doc_id", "text")
      sigs.pairs(s, docs.filter(col("doc_id") % 3 === 0), "doc_id", "text",
          threshold = 0.4)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // The BUCKETED-store upsert lifecycle (round 14) — q140's protocol
    // on the write-time-bucketed layout, gated through the NET-STATE
    // audit instead of a pair replay (the bucketed store's xxhash64
    // band keys are deliberately not oracle-replayable; signatures are
    // pure functions of the text, so mutated store ≡ from-scratch
    // net-history exactly when every live id's stored signature and
    // band rows equal the net text's, and no live id exists outside
    // the net set — SigStore.audit). Build on %3≠0
    // history, take %7=2 down (tombstones into the D/R op log), UPSERT
    // token-reversed %5=1 content (file-targeted reclaim through
    // Bucketing.reclaimFromTable, r15; the overlap REVIVES),
    // then audit against the net corpus: a resurrected takedown, a
    // lost or doubled replacement, stale band rows from a torn
    // reclaim, or old content kept under a mutated id each flip a row.
    "q141_sigstore_upsert_bucketed" -> ((s, dir) => {
      val table =
        s"graft_sigupsb_${Integer.toHexString(dir.hashCode)}_$jvmToken"
      val docs = t(s, dir, "documents")
      val history = docs.filter(col("doc_id") % 3 =!= 0)
      val sigs = Dedup.SigStore(Dedup.MinHash(), Dedup.Bucketed(table, 4))
      sigs.build(history, "doc_id", "text")
      sigs.delete(s, history.filter(col("doc_id") % 7 === 2).select("doc_id"))
      val mutated = history.filter(col("doc_id") % 5 === 1)
        .select(col("doc_id"),
          concat_ws(" ", reverse(split(col("text"), "\\s+")))
            .as("text"))
      sigs.upsert(s, mutated, "doc_id", "text")
      val net = history
        .filter(col("doc_id") % 7 =!= 2 || col("doc_id") % 5 === 1)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 1,
            concat_ws(" ", reverse(split(col("text"), "\\s+"))))
            .otherwise(col("text")).as("text"))
      sigs.audit(s, net, "doc_id", "text")
        .select(col("id").as("doc_id"), col("sig_ok"), col("bands_ok"))
        .orderBy(col("doc_id"))
    }),

    // The BUCKETED store maintained by CDC OPS (round 15) — the scale
    // layout reaches stream parity with the dir stores: one
    // SigStore.applyCdc call dispatches I (the %3=0 docs,
    // admitted fresh), U (%5=1 of history, token-reversed — the
    // targeted file-level reclaim + revive path), D (%7=2 of history;
    // a D at a later seq beats the overlap's U — latest-op
    // resolution), then a SECOND batch late-re-delivers an I of a
    // taken-down id (must stay down: takedown wins while the
    // tombstone stands). Gated like q141 through the net-state audit:
    // every live id's stored sig AND band rows ≡ the net text's, no
    // live id outside the net set.
    "q142_sigstore_cdc_bucketed" -> ((s, dir) => {
      val table =
        s"graft_sigcdcb_${Integer.toHexString(dir.hashCode)}_$jvmToken"
      val docs = t(s, dir, "documents")
      val history = docs.filter(col("doc_id") % 3 =!= 0)
      val sigs = Dedup.SigStore(Dedup.MinHash(), Dedup.Bucketed(table, 4))
      sigs.build(history, "doc_id", "text")
      val rev = concat_ws(" ", reverse(split(col("text"), "\\s+")))
      val b1 = docs.filter(col("doc_id") % 3 === 0)
          .select(col("doc_id"), col("text"), lit("I").as("op"),
            lit(1L).as("seq"))
        .unionByName(history.filter(col("doc_id") % 5 === 1)
          .select(col("doc_id"), rev.as("text"), lit("U").as("op"),
            lit(2L).as("seq")))
        .unionByName(history.filter(col("doc_id") % 7 === 2)
          .select(col("doc_id"), lit(null).cast("string").as("text"),
            lit("D").as("op"), lit(3L).as("seq")))
      sigs.applyCdc(s, b1)
      val b2 = history
        .filter(col("doc_id") % 7 === 2 && col("doc_id") % 5 === 3)
        .select(col("doc_id"), col("text"), lit("I").as("op"),
          lit(10L).as("seq"))
      sigs.applyCdc(s, b2)
      val net = docs
        .filter(col("doc_id") % 3 === 0 || col("doc_id") % 7 =!= 2)
        .select(col("doc_id"),
          when(col("doc_id") % 3 =!= 0 && col("doc_id") % 5 === 1, rev)
            .otherwise(col("text")).as("text"))
      sigs.audit(s, net, "doc_id", "text")
        .select(col("id").as("doc_id"), col("sig_ok"), col("bands_ok"))
        .orderBy(col("doc_id"))
    }),

    // The BUCKETED WIDE-SimHash store's CDC lifecycle (round 16) —
    // the w=128 family's scale layout reaches the same stream parity
    // as q142's MinHash twin, with one structural simplification: no
    // bands table (chunk keys are bit-slices of the stored signature,
    // computed at query time), so the file-targeted reclaim has no
    // second table and no coverage check. Same protocol: I (%3=0
    // fresh), U (%5=1 token-reversed — reclaim + revive), D (%7=2
    // down; the later D beats the overlap's U), a late re-delivered I
    // of a taken-down id that must stay down, then the net-state
    // audit (live stored (sig0, sig1) ≡ the net text's, membership
    // exact).
    "q143_widesim_cdc_bucketed" -> ((s, dir) => {
      val table =
        s"graft_widecdcb_${Integer.toHexString(dir.hashCode)}_$jvmToken"
      val docs = t(s, dir, "documents")
      val history = docs.filter(col("doc_id") % 3 =!= 0)
      val sigs = Dedup.SigStore(Dedup.WideSimhash(), Dedup.Bucketed(table, 4))
      sigs.build(history, "doc_id", "text")
      val rev = concat_ws(" ", reverse(split(col("text"), "\\s+")))
      val b1 = docs.filter(col("doc_id") % 3 === 0)
          .select(col("doc_id"), col("text"), lit("I").as("op"),
            lit(1L).as("seq"))
        .unionByName(history.filter(col("doc_id") % 5 === 1)
          .select(col("doc_id"), rev.as("text"), lit("U").as("op"),
            lit(2L).as("seq")))
        .unionByName(history.filter(col("doc_id") % 7 === 2)
          .select(col("doc_id"), lit(null).cast("string").as("text"),
            lit("D").as("op"), lit(3L).as("seq")))
      sigs.applyCdc(s, b1)
      val b2 = history
        .filter(col("doc_id") % 7 === 2 && col("doc_id") % 5 === 3)
        .select(col("doc_id"), col("text"), lit("I").as("op"),
          lit(10L).as("seq"))
      sigs.applyCdc(s, b2)
      val net = docs
        .filter(col("doc_id") % 3 === 0 || col("doc_id") % 7 =!= 2)
        .select(col("doc_id"),
          when(col("doc_id") % 3 =!= 0 && col("doc_id") % 5 === 1, rev)
            .otherwise(col("text")).as("text"))
      sigs.audit(s, net, "doc_id", "text")
        .select(col("id").as("doc_id"), col("sig_ok"))
        .orderBy(col("doc_id"))
    })
  )

  /** The IVF-PQ full replay (the q50 coarse-quantizer CTEs + the q89
    * PQ CTEs, ADC restricted to the probed lists, identical
    * tiebreaks) — shared by q103 (the per-query operator) and q109
    * (the materialized store's build + ADC search): both use the
    * md5-picked deterministic quantizers, so they must match this
    * replay rank for rank. */
  /** From-scratch exact-Jaccard clustering (5-shingles, τ=0.8, min-id
    * component labels via a recursive transitive closure) — the oracle
    * q64 (batch CC) and q114 (incremental CC) must BOTH hash-match:
    * folding a day's pairs into standing labels is correct exactly when
    * it is indistinguishable from re-clustering everything. */
  private lazy val fullClusterSql: String =
    """WITH RECURSIVE t AS (
         SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'),
                                    x -> len(x) > 0) AS ts
         FROM documents),
       sh AS (
         SELECT doc_id,
           CASE WHEN len(ts) < 5 THEN CAST([] AS VARCHAR[])
                ELSE list_distinct([array_to_string(ts[i:i+4], ' ')
                                    for i in range(1, len(ts)-3)]) END AS s
         FROM t),
       ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
       cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id),
       p AS (SELECT c.id_a, c.id_b
             FROM cand c JOIN sh sa ON sa.doc_id = c.id_a
                         JOIN sh sb ON sb.doc_id = c.id_b
             WHERE len(list_intersect(sa.s, sb.s))
                   / CAST(len(sa.s) + len(sb.s)
                          - len(list_intersect(sa.s, sb.s)) AS DOUBLE) >= 0.8),
       e AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
       r(src, dst) AS (SELECT a, b FROM e
                       UNION SELECT r.src, e.b FROM r JOIN e ON r.dst = e.a)
       SELECT src AS doc_id, least(src, min(dst)) AS component
       FROM r GROUP BY src ORDER BY doc_id"""

  private lazy val ivfPqReplaySql: String = ivfPqReplaySqlAt("3", "")

  /** [[ivfPqReplaySql]] with the probe depth replayed from the STORE'S
    * PERSISTED CALIBRATION instead of a constant: the calibration CTEs
    * recompute [[graft.operators.Similarity.calibrateIvfNprobe]]'s
    * measured recall curve exactly — exact top-k ground truth per
    * query (cos DESC, item_id ASC — the TopK.perGroup tiebreak), each
    * true neighbor's list resolved through the deterministic
    * assignment, probe_rank as the 1-based position of that list in
    * the query's descending centroid order (score DESC, lid DESC — the
    * reverse(array_sort) tiebreak), cumulative hits over probe_rank as
    * the recall curve, chosen = smallest depth meeting the target
    * (nlist when none does). Both engines derive recall as the same
    * integer-count division, so the >= 0.9 threshold compare is
    * bit-identical. Valid because q109's query set (10 rows) is within
    * sampleN=32 — the md5 sample is the WHOLE set, so no pick replay
    * is needed. */
  private lazy val ivfPqReplayCalibratedSql: String = ivfPqReplaySqlAt(
    "(SELECT np FROM chosen)",
    """tru AS (SELECT query_id, lid FROM (
                 SELECT qn.query_id, asn.lid,
                   row_number() OVER (PARTITION BY qn.query_id
                     ORDER BY list_inner_product(qn.qv, en.nv) DESC,
                              en.vec_id ASC) AS rn
                 FROM qn, en JOIN asn ON asn.item_id = en.vec_id
                 WHERE en.vec_id != qn.query_id) WHERE rn <= 5),
       rk AS (SELECT qn.query_id, cent.lid,
                row_number() OVER (PARTITION BY qn.query_id
                  ORDER BY list_inner_product(qn.qv, cent.cv) DESC,
                           cent.lid DESC) AS probe_rank
              FROM qn, cent),
       hits AS (SELECT rk.probe_rank FROM tru
                JOIN rk ON rk.query_id = tru.query_id AND rk.lid = tru.lid),
       curve AS (SELECT probe_rank AS np,
                   CAST(sum(count(*)) OVER (ORDER BY probe_rank) AS DOUBLE)
                     / (SELECT count(*) FROM hits) AS recall
                 FROM hits GROUP BY probe_rank),
       chosen AS (SELECT coalesce(min(np), 8) AS np
                  FROM curve WHERE recall >= 0.9),""")

  private def ivfPqReplaySqlAt(probeDepth: String,
      calibCtes: String): String = {
      val (m, subdim, ksub, candN, k) = (4, 16, 8, 20, 5)
      val adc = (0 until m).map(j =>
          s"list_inner_product(pr.qv[${j * subdim + 1}:${(j + 1) * subdim}], b$j.cw)")
        .reduceLeft((a, b) => s"($a + $b)")
      val bJoins = (0 until m).map(j =>
        s"JOIN cbs b$j ON b$j.j = $j AND b$j.c = ec.c$j").mkString(" ")
      val cWide = (0 until m).map(j =>
        s"max(CASE WHEN j = $j THEN c END) AS c$j").mkString(", ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         en AS (SELECT vec_id,
                  CASE WHEN list_inner_product(v, v) = 0 THEN v
                       ELSE list_transform(v, x -> x / sqrt(list_inner_product(v, v)))
                  END AS nv
                FROM e),
         cent AS (SELECT nv AS cv, CAST(rn - 1 AS INT) AS lid FROM (
                    SELECT nv, row_number() OVER
                      (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
                    FROM en) WHERE rn <= 8),
         asn AS (SELECT item_id, lid FROM (
                   SELECT en.vec_id AS item_id, cent.lid,
                     row_number() OVER (PARTITION BY en.vec_id
                       ORDER BY list_inner_product(en.nv, cent.cv) DESC, cent.lid DESC) AS rn
                   FROM en, cent) WHERE rn = 1),
         qn AS (SELECT vec_id AS query_id, nv AS qv FROM en WHERE vec_id < 10),
         $calibCtes
         pr AS (SELECT query_id, qv, lid FROM (
                  SELECT qn.query_id, qn.qv, cent.lid,
                    row_number() OVER (PARTITION BY qn.query_id
                      ORDER BY list_inner_product(qn.qv, cent.cv) DESC, cent.lid DESC) AS rn
                  FROM qn, cent) WHERE rn <= $probeDepth),
         cb AS (SELECT CAST(rn - 1 AS INT) AS code, nv FROM (
                  SELECT nv, row_number() OVER
                    (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
                  FROM en) WHERE rn <= $ksub),
         js AS (SELECT unnest(${(0 until m).mkString("[", ", ", "]")}) AS j),
         cbs AS (SELECT code AS c, j, nv[(j*$subdim+1):((j+1)*$subdim)] AS cw,
                   list_inner_product(nv[(j*$subdim+1):((j+1)*$subdim)],
                                      nv[(j*$subdim+1):((j+1)*$subdim)]) AS cc
                 FROM cb CROSS JOIN js),
         enc AS (SELECT vec_id, j, c FROM (
                   SELECT en.vec_id, cbs.j, cbs.c,
                     row_number() OVER (PARTITION BY en.vec_id, cbs.j
                       ORDER BY cbs.cc - 2 * list_inner_product(
                         en.nv[(cbs.j*$subdim+1):((cbs.j+1)*$subdim)], cbs.cw) ASC,
                       cbs.c ASC) AS rn
                   FROM en CROSS JOIN cbs) WHERE rn = 1),
         ec AS (SELECT vec_id AS item_id, $cWide FROM enc GROUP BY vec_id),
         ad AS (SELECT pr.query_id, ec.item_id, $adc AS approx
                FROM pr JOIN asn ON asn.lid = pr.lid
                        JOIN ec ON ec.item_id = asn.item_id $bJoins
                WHERE ec.item_id != pr.query_id),
         sl AS (SELECT query_id, item_id, approx FROM (
                  SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY approx DESC, item_id ASC) AS cr
                  FROM ad) WHERE cr <= $candN),
         ex AS (SELECT s.query_id, s.item_id, s.approx,
                  list_inner_product(q.qv, en2.nv) AS cos
                FROM sl s JOIN en en2 ON en2.vec_id = s.item_id
                          JOIN qn q ON q.query_id = s.query_id),
         r AS (SELECT query_id, item_id, round(approx, 4) AS approx_pq,
                 round(cos, 4) AS cos,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY ex.cos DESC, item_id) AS INT) AS rank
               FROM ex)
         SELECT query_id, item_id, approx_pq, cos, rank FROM r
         WHERE rank <= $k ORDER BY query_id, rank"""
    }

  /** The MERGE-arbitration replay (full-outer, I/U upsert, D erase)
    * over the q94 change set — shared by q94 (mergeBatch on plain
    * frames) and q110 (the same set applied through the manifest
    * pointer-file commit protocol and read back through the pointer):
    * the commit protocol must be invisible to results. */
  private lazy val mergeUpsertReplaySql: String =
    """WITH base AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
         ch AS (
           SELECT c_custkey,
             CASE WHEN c_custkey % 11 = 0 THEN 'D' ELSE 'U' END AS op,
             c_name || '_v2' AS c_name, c_acctbal + 100.0 AS c_acctbal
           FROM customer WHERE c_custkey % 7 = 0 OR c_custkey % 11 = 0
           UNION ALL
           SELECT c_custkey + 1000000, 'I', c_name || '_new', 0.0
           FROM customer WHERE c_custkey % 13 = 0)
         SELECT coalesce(ch.c_custkey, base.c_custkey) AS c_custkey,
           CASE WHEN ch.op IS NOT NULL THEN ch.c_name ELSE base.c_name END AS c_name,
           CASE WHEN ch.op IS NOT NULL THEN ch.c_acctbal ELSE base.c_acctbal END AS c_acctbal
         FROM base FULL JOIN ch ON base.c_custkey = ch.c_custkey
         WHERE ch.op IS NULL OR ch.op <> 'D'
         ORDER BY c_custkey"""

  /** q107's mix: deterministic per-source weights (exact binary
    * fractions, so frac(w)·10⁶ is integer-exact in BOTH engines),
    * shared between the Spark plan and the generated oracle SQL. */
  private val q107Weights: Seq[(String, Double)] = {
    val cycle = Vector(0.25, 0.75, 1.5, 2.75)
    (0 until 20).map(i => (s"src$i", cycle(i % 4)))
  }

  /** The shared DuckDB MinHash pipeline (q20 params: 64 hashes, 8
    * bands, 5-gram shingles): CTEs from a `d(doc_id, norm)` relation to
    * `v(id_a, id_b, nm)` — signature minima, raw-slice banding,
    * distinct candidates, match-count verify. */
  private def minhashPipelineSql: String = {
    val minExprs = (0 until 64).map { i =>
      val (a, b) = Dedup.permCoeffs(i)
      s"min((h * $a + $b) % 2147483647) AS c$i"
    }.mkString(",\n                  ")
    val sigArr = (0 until 64).map(i => s"c$i").mkString("[", ", ", "]")
    s"""shl AS (
           SELECT doc_id,
             CASE WHEN len(norm) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_transform(range(0, len(norm) - 4), i -> substr(norm, i + 1, 5))
             END AS sh
           FROM d),
         ex AS (SELECT doc_id, unnest(sh) AS s FROM shl),
         hs AS (SELECT DISTINCT doc_id,
                  ${PortableHash.sqlHmodP("s")} AS h FROM ex),
         agg AS (SELECT doc_id,
                  $minExprs
                FROM hs GROUP BY doc_id),
         sg AS (SELECT doc_id, $sigArr AS sig FROM agg),
         bd AS (SELECT doc_id, b, list_slice(sig, b * 8 + 1, b * 8 + 8) AS bucket
                FROM sg, (SELECT unnest(range(0, 8)) AS b) bands),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM bd a JOIN bd b
                    ON a.b = b.b AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         v AS (SELECT id_a, id_b,
                 len(list_filter(range(1, 65), i -> sa.sig[i] = sb.sig[i])) AS nm
               FROM cand JOIN sg sa ON sa.doc_id = id_a
                         JOIN sg sb ON sb.doc_id = id_b)"""
  }

  /** DuckDB mirror of `VectorFunctions.lshBucketPlanes` over `tables`
    * hash tables: a UNION ALL of per-table sign-bit bucket computations
    * on the same plan-time hyperplane literals the Spark side embeds. */
  private def lshBucketUnion(src: String, seed0: Int, tables: Int, bits: Int,
      dim: Int): String =
    (0 until tables).map { tb =>
      val bucket = PortableHash.planes(seed0 + tb, bits, dim).zipWithIndex.map {
        case (w, b) =>
          s"(CASE WHEN list_inner_product(v, ${PortableHash.sqlPlane(w)}) >= 0" +
            s" THEN ${1L << b} ELSE 0 END)"
      }.mkString("(", " + ", ")")
      s"SELECT vec_id, $tb AS tbl, $bucket AS bucket FROM $src"
    }.mkString(" UNION ALL ")

  /** [[lshBucketUnion]] with the SCALE-ADAPTIVE width AND table count:
    * emits all `maxBits` plane terms, each gated on `b < (SELECT bits
    * FROM bb)`, and all `maxTables` table branches, each gated on
    * `tb < (SELECT tbls FROM bb)` — the caller's `bb` CTE derives both
    * from count(*) with the same integer ladders as
    * [[graft.operators.Dedup.adaptiveLshBits]] /
    * [[graft.operators.Dedup.adaptiveLshTables]] (planes(seed, bits,
    * dim) is a prefix of planes(seed, maxBits, dim), so gating ≡
    * truncation; an ungated table branch past tbls would add rows, so
    * its gate is a row filter). */
  private def lshBucketUnionGated(src: String, seed0: Int, maxTables: Int,
      maxBits: Int, dim: Int): String =
    (0 until maxTables).map { tb =>
      val bucket = PortableHash.planes(seed0 + tb, maxBits, dim).zipWithIndex.map {
        case (w, b) =>
          s"(CASE WHEN $b < (SELECT bits FROM bb) AND " +
            s"list_inner_product(v, ${PortableHash.sqlPlane(w)}) >= 0" +
            s" THEN ${1L << b} ELSE 0 END)"
      }.mkString("(", " + ", ")")
      s"SELECT vec_id, $tb AS tbl, $bucket AS bucket FROM $src " +
        s"WHERE $tb < (SELECT tbls FROM bb)"
    }.mkString(" UNION ALL ")

  lazy val oracleSql: Map[String, String] = Map(
    "q01_agg" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS disc_price
         FROM lineitem WHERE l_quantity > 45 AND l_discount >= 0.05
         ORDER BY l_orderkey, l_linenumber""",
    "q03_join_agg" ->
      """SELECT r_name, n_name,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
         count(*) AS n_items
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",
    "q04_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
    "q05_window" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rk
           FROM orders) WHERE rk <= 3 ORDER BY o_custkey, rk""",
    "q51_topk_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rk
           FROM orders) WHERE rk <= 3 ORDER BY o_custkey, rk""",
    "q06_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",
    "q06b_semi_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",
    "q07_setop" ->
      """SELECT o_custkey FROM orders WHERE o_totalprice > 200000
         INTERSECT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         ORDER BY o_custkey""",
    "q45_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
         EXCEPT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         ORDER BY o_custkey""",
    "q46_stats" ->
      """SELECT l_returnflag, count(*) AS n,
         round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*)
             - (CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*))
             * (CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*)), 6) AS var_pop,
         round(sqrt(CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*)
             - (CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*))
             * (CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*))), 6) AS stddev_pop
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q47_grouping_sets" ->
      """SELECT r_name, n_name, count(*) AS n_cust,
         CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY GROUPING SETS ((r_name), (n_name), ())
         ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""",
    "q48_full_outer" ->
      """SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey, n_cust, n_supp
         FROM (SELECT c_nationkey AS nationkey, count(*) AS n_cust
               FROM customer WHERE c_acctbal < 0 GROUP BY 1) c
         FULL OUTER JOIN
              (SELECT s_nationkey AS nationkey, count(*) AS n_supp
               FROM supplier WHERE s_acctbal > 5000 GROUP BY 1) s
           ON c.nationkey = s.nationkey
         ORDER BY nationkey""",
    "q49_window_frames" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
         CAST(datediff('day', TIMESTAMP '1992-01-01', o_orderdate) AS INT) AS day,
         CAST(ntile(4) OVER wt AS INT) AS quartile,
         round(percent_rank() OVER wt, 6) AS pct_rank,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER
           (PARTITION BY o_custkey
            ORDER BY datediff('day', TIMESTAMP '1992-01-01', o_orderdate)
            RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trail30_spend
         FROM orders
         WINDOW wt AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
         ORDER BY o_orderkey""",
    "q08_rollup" ->
      """SELECT r_name, n_name, count(*) AS n_cust,
         CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP(r_name, n_name)
         ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""",
    "q09_scalar" ->
      """SELECT p_partkey, upper(substr(p_name, 1, 8)) AS name_prefix,
         CAST(length(p_name) AS INT) AS name_len,
         CAST(CAST(p_retailprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(3,1)) AS DOUBLE) AS inflated,
         CAST(p_size % 7 AS INT) AS size_mod
         FROM part ORDER BY p_partkey""",
    "q10_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT l_partkey) AS n_part, count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q11_events_json" ->
      """SELECT event_type, count(*) AS n,
         CAST(sum(CAST(NULLIF(regexp_extract(props, '([0-9]+)', 1), '') AS INT)) AS BIGINT) AS sum_k,
         CAST(min(CAST(NULLIF(regexp_extract(props, '([0-9]+)', 1), '') AS INT)) AS INT) AS min_k,
         CAST(max(CAST(NULLIF(regexp_extract(props, '([0-9]+)', 1), '') AS INT)) AS INT) AS max_k
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q12_demux_events" ->
      """SELECT event_id, user_id, value,
         CAST(floor(epoch(ts)/60) AS BIGINT) AS minute_bucket
         FROM events WHERE event_type = 'click' AND props IS NOT NULL
         ORDER BY event_id""",
    "q13_minute_agg" ->
      """SELECT CAST(floor(epoch(ts)/60) AS BIGINT) AS minute_bucket,
         count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1 ORDER BY minute_bucket""",
    "q14_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_dups,
         CAST(length(text) AS INT) AS text_len
         FROM documents GROUP BY text ORDER BY keep_id""",
    "q15_tokens" ->
      """SELECT doc_id,
         CAST(len(regexp_extract_all(trim(text), '\S+')) AS BIGINT) AS n_tokens,
         CAST(len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_subwords
         FROM documents ORDER BY doc_id""",
    "q16_quality" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS len_chars,
         CAST(len(regexp_extract_all(trim(text), '\S+')) AS BIGINT) AS n_tokens,
         round(CAST(len(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
               / greatest(len(regexp_extract_all(trim(text), '\S+')), 1), 4) AS mean_tok_len,
         round(CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
               / greatest(length(text), 1), 4) AS digit_ratio,
         round(CAST(len(regexp_extract_all(text, '[A-Z]')) AS DOUBLE)
               / greatest(length(text), 1), 4) AS upper_ratio,
         round(CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|in|that|it|was|for)\b')) AS DOUBLE)
               / greatest(len(regexp_extract_all(trim(text), '\S+')), 1), 4) AS stopword_ratio
         FROM documents ORDER BY doc_id""",
    "q17_langid" ->
      """WITH hits AS (SELECT doc_id,
           len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|in|that|it|was|for)\b')) AS en,
           len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|ein|eine|zu|mit)\b')) AS de,
           len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|une|dans|que|pour|pas)\b')) AS fr,
           len(regexp_extract_all(lower(text), '\b(el|la|los|las|es|una|para|con|por|del)\b')) AS es,
           len(regexp_extract_all(lower(text), '\b(il|la|che|di|non|una|per|sono|con|del)\b')) AS it
           FROM documents)
         SELECT doc_id, CASE
           WHEN en > 0 AND en >= de AND en >= fr AND en >= es AND en >= it THEN 'en'
           WHEN de > 0 AND de >= fr AND de >= es AND de >= it THEN 'de'
           WHEN fr > 0 AND fr >= es AND fr >= it THEN 'fr'
           WHEN es > 0 AND es >= it THEN 'es'
           WHEN it > 0 THEN 'it'
           ELSE 'und' END AS lang_pred
         FROM hits ORDER BY doc_id""",
    "q18_lang_stats" ->
      """SELECT lang, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars
         FROM documents GROUP BY lang ORDER BY lang""",
    "q26_multimodal" ->
      """SELECT doc_id AS asset_id,
         CAST(octet_length(CAST(text AS BLOB)) AS INT) AS byte_len,
         CAST(64 + octet_length(CAST(text AS BLOB)) % 577 AS INT) AS width,
         CAST(64 + (octet_length(CAST(text AS BLOB)) * 31) % 577 AS INT) AS height,
         CAST(1 AS INT) AS n_frames
         FROM documents ORDER BY asset_id""",
    "q27_split_person" ->
      """SELECT c_custkey, c_name, c_acctbal, CAST(c_custkey AS VARCHAR) AS timestamp
         FROM customer WHERE c_custkey % 10 <> 0 AND c_custkey % 17 <> 0
         ORDER BY c_custkey""",
    "q28_asof_join" ->
      """WITH clicks AS (
           SELECT user_id, epoch_us(ts) AS t_us, event_id AS click_id
           FROM events WHERE event_type = 'click'),
         purchases AS (
           SELECT user_id, t_us, purchase_id, purchase_value FROM (
             SELECT user_id, epoch_us(ts) AS t_us, event_id AS purchase_id,
                    value AS purchase_value,
                    row_number() OVER (PARTITION BY user_id, epoch_us(ts)
                      ORDER BY event_id DESC) AS rn
             FROM events WHERE event_type = 'purchase') WHERE rn = 1)
         SELECT c.user_id, c.t_us, c.click_id, p.purchase_id, p.purchase_value
         FROM clicks c ASOF LEFT JOIN purchases p
           ON c.user_id = p.user_id AND p.t_us <= c.t_us
         ORDER BY c.click_id""",
    "q81_asof_forward" ->
      """WITH clicks AS (
           SELECT user_id, epoch_us(ts) AS t_us, event_id AS click_id
           FROM events WHERE event_type = 'click'),
         purchases AS (
           SELECT user_id, t_us, purchase_id, purchase_value FROM (
             SELECT user_id, epoch_us(ts) AS t_us, event_id AS purchase_id,
                    value AS purchase_value,
                    row_number() OVER (PARTITION BY user_id, epoch_us(ts)
                      ORDER BY event_id DESC) AS rn
             FROM events WHERE event_type = 'purchase') WHERE rn = 1)
         SELECT c.user_id, c.t_us, c.click_id, p.purchase_id, p.purchase_value
         FROM clicks c ASOF LEFT JOIN purchases p
           ON c.user_id = p.user_id AND p.t_us >= c.t_us
         ORDER BY c.click_id""",
    "q80_salted_join" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS yr, count(*) AS n_lines,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem JOIN (
           SELECT o_orderkey, o_orderdate FROM orders
           WHERE o_orderpriority = '1-URGENT')
         ON l_orderkey = o_orderkey
         GROUP BY 1 ORDER BY yr""",
    "q29_sql_catalog" ->
      """SELECT c_mktsegment, CAST(year(o_orderdate) AS INT) AS yr,
         count(*) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment, year(o_orderdate)
         ORDER BY c_mktsegment, yr""",
    "q30_choice_union" ->
      """SELECT CAST(p_partkey AS BIGINT) AS id, CAST(p_retailprice AS DOUBLE) AS price,
                CAST(p_name AS VARCHAR) AS info, 'part' AS src FROM part
         UNION ALL
         SELECT CAST(s_suppkey AS BIGINT), CAST(CAST(floor(s_acctbal) AS INT) AS DOUBLE),
                CAST(s_nationkey AS VARCHAR), 'supplier' FROM supplier
         ORDER BY src, id""",
    "q32_window_running" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
         lag(o_totalprice, 1) OVER w AS prev_price,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER
           (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, o_orderkey""",
    "q33_scalar_subquery" ->
      """SELECT c_custkey,
         (SELECT max(o_totalprice) FROM orders WHERE o_custkey = c_custkey) AS max_price
         FROM customer ORDER BY c_custkey""",
    "q34_explode_tokens" ->
      """SELECT doc_id, unnest(regexp_extract_all(trim(text), '\S+')) AS tok
         FROM documents ORDER BY doc_id, tok""",
    "q35_scrub" ->
      """WITH d AS (SELECT doc_id,
           text || ' contact admin@example.com or visit https://ex.io/p/'
                || CAST(doc_id AS VARCHAR) AS dirty
         FROM documents)
         SELECT doc_id, CAST(length(dirty) AS BIGINT) AS dirty_len,
           CAST(length(regexp_replace(regexp_replace(dirty, 'https?://\S+', '', 'g'),
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '', 'g')) AS BIGINT) AS clean_len
         FROM d ORDER BY doc_id""",
    "q36_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "q37_pivot" ->
      """SELECT l_returnflag,
         CAST(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "F",
         CAST(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "O"
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q38_cdc_snapshot" ->
      """WITH log AS (SELECT user_id, epoch_us(ts) AS t_us, event_id, value,
           CASE WHEN event_type IN ('view','signup') THEN 'insert'
                WHEN event_type = 'error' THEN 'delete'
                ELSE 'update' END AS op
         FROM events),
         r AS (SELECT *, row_number() OVER
                 (PARTITION BY user_id ORDER BY t_us DESC, event_id DESC) AS rn
               FROM log)
         SELECT user_id, t_us, event_id, value, op
         FROM r WHERE rn = 1 AND op <> 'delete' ORDER BY user_id""",
    "q39_range_join" ->
      """SELECT e.event_id, n.n_nationkey, e.value
         FROM events e JOIN nation n
           ON e.value >= n.n_nationkey * 4.0
          AND e.value <  n.n_nationkey * 4.0 + 6.0
         ORDER BY e.event_id, n.n_nationkey""",
    "q40_sessionize" ->
      """WITH ev AS (
           SELECT user_id, epoch_us(ts) AS t_us, event_id FROM events),
         g AS (
           SELECT user_id, t_us, event_id,
             CASE WHEN t_us - lag(t_us, 1) OVER w > 30*60*1000000 THEN 1 ELSE 0 END AS new_sess
           FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)),
         s AS (
           SELECT user_id, t_us, event_id,
             CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY t_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
           FROM g)
         SELECT user_id, session_id, count(*) AS n_events,
           min(t_us) AS t_start, max(t_us) AS t_end
         FROM s GROUP BY user_id, session_id
         ORDER BY user_id, session_id""",
    "q41_percentile" ->
      """SELECT l_returnflag,
         quantile_cont(l_quantity, 0.5) AS p50,
         quantile_cont(l_quantity, 0.9) AS p90,
         quantile_cont(l_extendedprice, 0.25) AS price_p25
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q42_json_path" ->
      """SELECT event_id,
         CAST(json_extract_string(props, '$.k') AS INT) AS k
         FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL
         ORDER BY event_id""",
    "q43_map_explode" ->
      """SELECT event_id, 'k' AS key,
         CAST(json_extract_string(props, '$.k') AS INT) AS val
         FROM events WHERE props IS NOT NULL
         ORDER BY event_id, key""",
    "q44_typed_agg" ->
      """SELECT l_returnflag,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           / CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS wavg_price
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q52_except_all" ->
      """SELECT o_custkey, count(*) AS n FROM (
           SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
           EXCEPT ALL
           SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
         GROUP BY o_custkey ORDER BY o_custkey""",
    "q53_unpivot" ->
      """SELECT p_partkey, attr, val FROM (
           SELECT p_partkey, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
           UNION ALL
           SELECT p_partkey, 'p_retailprice' AS attr, p_retailprice AS val FROM part)
         ORDER BY p_partkey, attr""",
    "q54_lateral" ->
      """SELECT n_name, c_name, bal FROM nation,
         LATERAL (SELECT c_name, c_acctbal AS bal FROM customer
                  WHERE c_nationkey = n_nationkey
                  ORDER BY c_acctbal DESC, c_name LIMIT 2)
         ORDER BY n_name, bal DESC, c_name""",
    "q55_window_nav" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
         first_value(o_orderkey) OVER wf AS cheapest,
         nth_value(o_orderkey, 2) OVER wf AS second_cheapest,
         round(cume_dist() OVER w, 6) AS cume
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey),
                wf AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ORDER BY o_orderkey""",
    "q69_char_entropy" ->
      """WITH c AS (SELECT doc_id, string_split(text, '') AS cs FROM documents),
         e AS (SELECT doc_id, len(cs) AS n,
                 list_sum(list_transform(list_sort(list_distinct(cs)),
                   ch -> CAST(len(list_filter(cs, x -> x = ch)) AS DOUBLE)
                         * log2(CAST(len(list_filter(cs, x -> x = ch)) AS DOUBLE)))) AS s
               FROM c)
         SELECT doc_id,
           CASE WHEN n IS NULL OR n <= 0 THEN 0.0
                ELSE round(log2(CAST(n AS DOUBLE)) - s / n, 4) END AS entropy
         FROM e ORDER BY doc_id""",
    "q67_sortmerge_join" ->
      """SELECT o_orderstatus, count(*) AS n_lines,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1 ORDER BY o_orderstatus""",
    "q68_shuffle_hash_join" ->
      """SELECT o_orderpriority,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS rev
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1 ORDER BY o_orderpriority""",
    "q65_pivot_sql" ->
      """SELECT l_returnflag,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS f,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS o
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q66_collation" ->
      """SELECT lower(CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END) AS source,
         count(*) AS n
         FROM documents
         GROUP BY 1 ORDER BY source""",
    // the q22 pair pipeline extended with a recursive transitive closure:
    // component label = min id reachable (matches min-label propagation).
    "q64_dedup_clusters" -> fullClusterSql,
    // the incremental fold must be INVISIBLE in the result: same
    // from-scratch clustering oracle as q64, replayed verbatim.
    "q114_incremental_clusters" -> fullClusterSql,
    // skipping must be result-invisible: the oracle is the plain
    // unskipped range filter over the source table (the z-ordered
    // copy the query reads holds exactly lineitem's rows).
    "q115_zonemap_scan" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
         FROM lineitem
         WHERE l_orderkey BETWEEN 1000 AND 3000
           AND l_partkey BETWEEN 100 AND 400
         ORDER BY l_orderkey, l_linenumber""",
    // bloom skipping must be result-invisible: the oracle is the plain
    // IN filter (the hash-layout copy holds exactly lineitem's rows).
    "q116_bloom_index_scan" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
         FROM lineitem
         WHERE l_orderkey IN (7, 486, 1123)
         ORDER BY l_orderkey, l_linenumber""",
    // the incremental fold must be invisible: the oracle is the plain
    // from-scratch GROUP BY (sums exact through DECIMAL, means divided
    // as double on both sides).
    "q117_incremental_rollup" ->
      """SELECT o_orderpriority,
         count(*) AS n_rows,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS sum__o_totalprice,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           / count(o_totalprice) AS avg__o_totalprice,
         min(o_orderdate) AS min__o_orderdate,
         max(o_orderdate) AS max__o_orderdate
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // the sketch estimate is engine-specific (DataSketches HLL), so the
    // oracle recomputes the exact population side and asserts the
    // 5%-bound flag as literal TRUE — the q31 invariant pattern.
    "q118_rollup_ndv" ->
      """SELECT o_orderpriority, count(*) AS n_rows,
         count(DISTINCT o_custkey) AS exact_cust, TRUE AS ndv_ok
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // the materialized index must be invisible: the oracle is q76's
    // from-scratch replay (bench shingles re-derived from raw text).
    "q119_indexed_contamination" ->
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'),
                                      x -> len(x) > 0) AS ts
           FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(ts) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct([array_to_string(ts[i:i+4], ' ')
                                      for i in range(1, len(ts)-3)]) END AS s
           FROM t),
         ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         b AS (SELECT DISTINCT g FROM ex WHERE doc_id < 10),
         h AS (SELECT doc_id, count(*) AS n_hit FROM ex
               WHERE g IN (SELECT g FROM b) GROUP BY doc_id)
         SELECT sh.doc_id, CAST(len(sh.s) AS BIGINT) AS n_sh,
           CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
           CASE WHEN len(sh.s) = 0 THEN 0.0
                ELSE round(coalesce(h.n_hit, 0) / CAST(len(sh.s) AS DOUBLE), 4)
           END AS contamination
         FROM sh LEFT JOIN h ON h.doc_id = sh.doc_id
         ORDER BY sh.doc_id""",
    // full-outer MERGE replay with the evolved column: updates keep the
    // un-carried c_name, inserts null-fill it, non-change rows get NULL
    // for the new c_tier.
    "q120_merge_evolve" ->
      """WITH t AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
         ch AS (
           SELECT c_custkey, 'U' AS op, c_acctbal + 10.0 AS c_acctbal,
             CASE WHEN c_acctbal > 1000.0 THEN 'gold' ELSE 'std' END AS c_tier
           FROM t WHERE c_custkey % 7 = 0 AND c_custkey % 11 <> 0
           UNION ALL
           SELECT c_custkey, 'D', NULL, NULL FROM t WHERE c_custkey % 11 = 0
           UNION ALL
           SELECT c_custkey + 1000000, 'I', CAST(1.5 AS DOUBLE), 'new'
           FROM t WHERE c_custkey % 13 = 0)
         SELECT coalesce(t.c_custkey, ch.c_custkey) AS c_custkey,
           t.c_name AS c_name,
           CASE WHEN ch.op IS NOT NULL THEN ch.c_acctbal
                ELSE t.c_acctbal END AS c_acctbal,
           CASE WHEN ch.op IS NOT NULL THEN ch.c_tier END AS c_tier
         FROM t FULL OUTER JOIN ch ON t.c_custkey = ch.c_custkey
         WHERE coalesce(ch.op <> 'D', TRUE)
         ORDER BY c_custkey""",
    // from-scratch fixed-bin recompute: same clamped bin id, same
    // cumulative walk to the first bin holding the ceil(p·total)-th
    // value, same midpoint — the standing fold must be invisible.
    "q121_rollup_hist" ->
      """WITH b AS (
           SELECT l_returnflag,
             least(7, greatest(0,
               CAST(floor((l_quantity - 5.0) / 5.0) AS INT))) AS bin
           FROM lineitem WHERE l_quantity IS NOT NULL),
         n AS (SELECT l_returnflag, count(*) AS n_rows
               FROM lineitem GROUP BY 1),
         c AS (SELECT l_returnflag, bin, count(*) AS cnt
               FROM b GROUP BY 1, 2),
         cum AS (SELECT l_returnflag, bin, cnt,
                   sum(cnt) OVER (PARTITION BY l_returnflag
                                  ORDER BY bin) AS cum,
                   sum(cnt) OVER (PARTITION BY l_returnflag) AS total
                 FROM c),
         q AS (SELECT l_returnflag,
                 CAST(coalesce(sum(CASE WHEN bin = 0 THEN cnt END), 0)
                   AS BIGINT) AS h_lo,
                 CAST(coalesce(sum(CASE WHEN bin = 7 THEN cnt END), 0)
                   AS BIGINT) AS h_hi,
                 min(CASE WHEN cum >= greatest(ceil(0.25 * total), 1)
                     THEN bin END) AS b25,
                 min(CASE WHEN cum >= greatest(ceil(0.50 * total), 1)
                     THEN bin END) AS b50,
                 min(CASE WHEN cum >= greatest(ceil(0.90 * total), 1)
                     THEN bin END) AS b90
               FROM cum GROUP BY 1)
         SELECT n.l_returnflag, n.n_rows, q.h_lo, q.h_hi,
           round(5.0 + (q.b25 + 0.5) * 5.0, 4) AS p25,
           round(5.0 + (q.b50 + 0.5) * 5.0, 4) AS p50,
           round(5.0 + (q.b90 + 0.5) * 5.0, 4) AS p90
         FROM n JOIN q USING (l_returnflag)
         ORDER BY l_returnflag""",
    // the tombstone subtraction and the physical compact must both be
    // invisible: the oracle is the plain anti-filtered table, and the
    // invariant flag pins pre-compact view = post-compact rows with an
    // empty sidecar.
    "q122_deletion_vectors" ->
      """SELECT c_custkey, c_name, c_acctbal, TRUE AS pre_eq
         FROM customer
         WHERE c_custkey % 5 <> 0 AND c_custkey % 7 <> 0
         ORDER BY c_custkey""",
    // from-scratch join of the FINAL inputs (post-dim-delta): the fold
    // sequence — init + two fact folds + an affected-only dim fold —
    // must be indistinguishable from recomputing the join.
    "q123_join_view" ->
      """WITH dim AS (
           SELECT c_custkey,
             CASE WHEN c_custkey % 10 = 0 THEN 'U:' || c_name
                  ELSE c_name END AS c_name,
             CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100.0
                  ELSE c_acctbal END AS c_acctbal
           FROM customer)
         SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
           d.c_name, d.c_acctbal
         FROM orders o JOIN dim d ON o.o_custkey = d.c_custkey
         ORDER BY o.o_orderkey""",
    // each check recomputed as its own subquery; null policy mirrored
    // (nulls pass range/set/ref — nullability is not_null's own check).
    "q124_constraints" ->
      """WITH n AS (SELECT count(*) AS n_rows FROM lineitem),
         v AS (
           SELECT 'not_null(l_orderkey)' AS chk,
             (SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL)
               AS violations
           UNION ALL SELECT 'in_range(l_quantity)',
             (SELECT count(*) FROM lineitem WHERE l_quantity IS NOT NULL
                AND NOT (l_quantity BETWEEN 1 AND 50))
           UNION ALL SELECT 'in_range(l_extendedprice)',
             (SELECT count(*) FROM lineitem
              WHERE l_extendedprice IS NOT NULL
                AND NOT (l_extendedprice BETWEEN 0 AND 50000))
           UNION ALL SELECT 'in_set(l_returnflag)',
             (SELECT count(*) FROM lineitem WHERE l_returnflag IS NOT NULL
                AND l_returnflag NOT IN ('A', 'N', 'R'))
           UNION ALL SELECT 'unique(l_orderkey,l_linenumber)',
             (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM
               (SELECT count(*) AS c FROM lineitem
                GROUP BY l_orderkey, l_linenumber) WHERE c > 1)
           UNION ALL SELECT 'ref(l_orderkey->o_orderkey)',
             (SELECT count(*) FROM lineitem l
              WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS
                (SELECT 1 FROM orders o
                 WHERE o.o_orderkey = l.l_orderkey)))
         SELECT v.chk, v.violations, n.n_rows,
           v.violations = 0 AS pass
         FROM v, n ORDER BY chk""",
    // from-scratch PSI replay: same clamped bins, same Laplace
    // smoothing (+0.5 per bin, +0.5·bins per total), same ln — rounded
    // to 6 decimals on both sides (term-sum order differs at ~1e-16).
    "q125_drift_psi" ->
      """WITH a AS (
           SELECT l_returnflag, least(9, greatest(0,
             CAST(floor(l_quantity / 5.0) AS INT))) AS bin
           FROM lineitem
           WHERE l_shipdate < DATE '1998-07-01' AND l_quantity IS NOT NULL),
         b AS (
           SELECT l_returnflag, least(9, greatest(0,
             CAST(floor(l_quantity / 5.0) AS INT))) AS bin
           FROM lineitem
           WHERE l_shipdate >= DATE '1998-07-01' AND l_quantity IS NOT NULL),
         fl AS (SELECT DISTINCT l_returnflag FROM a
                INTERSECT SELECT DISTINCT l_returnflag FROM b),
         grid AS (SELECT f.l_returnflag, t.i AS bin
                  FROM fl f, range(0, 10) t(i)),
         ca AS (SELECT l_returnflag, bin, count(*) AS c FROM a GROUP BY 1, 2),
         cb AS (SELECT l_returnflag, bin, count(*) AS c FROM b GROUP BY 1, 2),
         m AS (SELECT g.l_returnflag, g.bin,
                 coalesce(ca.c, 0) AS ca, coalesce(cb.c, 0) AS cb
               FROM grid g
               LEFT JOIN ca ON ca.l_returnflag = g.l_returnflag
                           AND ca.bin = g.bin
               LEFT JOIN cb ON cb.l_returnflag = g.l_returnflag
                           AND cb.bin = g.bin),
         t AS (SELECT l_returnflag, CAST(sum(ca) AS BIGINT) AS n_a,
                 CAST(sum(cb) AS BIGINT) AS n_b
               FROM m GROUP BY 1)
         SELECT m.l_returnflag, t.n_a, t.n_b,
           round(sum(
             ((m.ca + 0.5) / (t.n_a + 5.0) - (m.cb + 0.5) / (t.n_b + 5.0))
             * ln(((m.ca + 0.5) / (t.n_a + 5.0))
                  / ((m.cb + 0.5) / (t.n_b + 5.0)))), 6) AS psi
         FROM m JOIN t ON t.l_returnflag = m.l_returnflag
         GROUP BY m.l_returnflag, t.n_a, t.n_b
         ORDER BY m.l_returnflag""",
    // every card stat recomputed from scratch (sums through
    // DECIMAL(18,2), the median via the q121 cumulative bin walk).
    "q126_data_card" ->
      """WITH b AS (
           SELECT least(9, greatest(0,
             CAST(floor(o_totalprice / 50000.0) AS INT))) AS bin
           FROM orders WHERE o_totalprice IS NOT NULL),
         c AS (SELECT bin, count(*) AS cnt FROM b GROUP BY 1),
         cum AS (SELECT bin, cnt,
                   sum(cnt) OVER (ORDER BY bin) AS cum,
                   sum(cnt) OVER () AS total FROM c),
         q AS (SELECT min(CASE WHEN cum >= greatest(ceil(0.5 * total), 1)
                     THEN bin END) AS b50 FROM cum)
         SELECT count(*) AS n_rows,
           CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS nulls__o_orderstatus,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum__o_totalprice,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             / count(o_totalprice) AS avg__o_totalprice,
           round((CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))
                    * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
              - CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                * CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                / count(o_totalprice)) / count(o_totalprice), 4)
             AS var_price,
           round(sqrt(greatest(
             (CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))
                    * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
              - CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                * CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                / count(o_totalprice)) / count(o_totalprice), 0)), 4)
             AS stddev_price,
           min(o_orderdate) AS min__o_orderdate,
           max(o_orderdate) AS max__o_orderdate,
           count(DISTINCT o_orderpriority) AS ndv_prio,
           round(0.0 + ((SELECT b50 FROM q) + 0.5) * 50000.0, 4)
             AS p50_price
         FROM orders ORDER BY n_rows""",
    // same whitespace tokenization as q15's oracle, then the plan
    // arithmetic verbatim: wt = budget·frac / tokens.
    "q127_token_mix" ->
      """WITH tt AS (
           SELECT lang, CAST(sum(len(regexp_extract_all(trim(text), '\S+')))
             AS BIGINT) AS tokens
           FROM documents GROUP BY 1),
         tg AS (SELECT * FROM (VALUES ('en', 0.5), ('zh', 0.2),
                  ('de', 0.1), ('es', 0.1), ('fr', 0.1)) AS v(lang, frac))
         SELECT tt.lang, tt.tokens, tg.frac AS target_frac,
           round(1000000.0 * tg.frac / tt.tokens, 6) AS wt
         FROM tt JOIN tg ON tg.lang = tt.lang
         WHERE tt.tokens > 0
         ORDER BY tt.lang""",
    // identical A-ES key arithmetic (portable h60 draw + pow), ranked
    // by window: the operator's bounded-heap path must be invisible.
    "q128_weighted_sample" ->
      s"""WITH d AS (
           SELECT lang, doc_id,
             ${operators.Sampling.sqlEsKey("doc_id", "n_chars", "")} AS key
           FROM documents WHERE n_chars > 0)
         SELECT lang, rk, doc_id FROM (
           SELECT lang, doc_id,
             CAST(row_number() OVER (PARTITION BY lang
               ORDER BY key DESC, doc_id) AS INT) AS rk
           FROM d) WHERE rk <= 5
         ORDER BY lang, rk""",
    // population variance replayed from scratch through the state's
    // exact decimal arithmetic: sum and sum-of-squares through
    // DECIMAL (squares exact at scale 4), then the identical
    // (sq − sm²/n)/n double derivation — not var_pop(), whose
    // streaming accumulation differs in low-order bits.
    "q129_rollup_variance" ->
      """WITH s AS (
           SELECT o_orderpriority, count(*) AS n_rows,
             count(o_totalprice) AS cnt,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sm,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))
                      * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sq
           FROM orders GROUP BY 1)
         SELECT o_orderpriority, n_rows,
           round((sq - sm * sm / cnt) / cnt, 4) AS var_price,
           round(sqrt(greatest((sq - sm * sm / cnt) / cnt, 0)), 4)
             AS stddev_price
         FROM s ORDER BY o_orderpriority""",
    // the q126/q129 decimal-exact profile arithmetic over documents,
    // plus the two clamped edge-bin counts (width 2000/8 = 250) the
    // SQL-served hist__n_chars array exposes via element_at.
    "q130_sql_card" ->
      """WITH s AS (
           SELECT count(*) AS n_rows,
             CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS nulls__lang,
             count(n_chars) AS cnt,
             CAST(sum(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) AS sm,
             CAST(sum(CAST(n_chars AS DECIMAL(18,2))
                      * CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) AS sq,
             min(n_chars) AS min__n_chars,
             max(n_chars) AS max__n_chars,
             count(DISTINCT source) AS ndv_src,
             CAST(sum(CASE WHEN least(7, greatest(0,
                 CAST(floor(n_chars / 250.0) AS INT))) = 0
               THEN 1 ELSE 0 END) AS BIGINT) AS h_lo,
             CAST(sum(CASE WHEN least(7, greatest(0,
                 CAST(floor(n_chars / 250.0) AS INT))) = 7
               THEN 1 ELSE 0 END) AS BIGINT) AS h_hi
           FROM documents)
         SELECT n_rows, nulls__lang, sm AS sum__n_chars,
           sm / cnt AS avg__n_chars,
           round((sq - sm * sm / cnt) / cnt, 4) AS var_nc,
           round(sqrt(greatest((sq - sm * sm / cnt) / cnt, 0)), 4)
             AS std_nc,
           min__n_chars, max__n_chars, ndv_src, h_lo, h_hi
         FROM s ORDER BY n_rows""",
    // q124's report shape over a DIFFERENT check list (tighter range,
    // a pred with strict-null semantics, ref against part): one
    // violation count per check, same names the DSL parser derives.
    "q131_sql_constraints" ->
      """WITH n AS (SELECT count(*) AS n_rows FROM lineitem),
         v AS (
           SELECT 'not_null(l_orderkey)' AS chk,
             (SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL)
               AS violations
           UNION ALL SELECT 'in_range(l_quantity)',
             (SELECT count(*) FROM lineitem WHERE l_quantity IS NOT NULL
                AND NOT (l_quantity BETWEEN 1 AND 25))
           UNION ALL SELECT 'in_set(l_linestatus)',
             (SELECT count(*) FROM lineitem WHERE l_linestatus IS NOT NULL
                AND l_linestatus NOT IN ('F', 'O'))
           UNION ALL SELECT 'low_disc',
             (SELECT count(*) FROM lineitem
              WHERE l_discount IS NULL OR NOT (l_discount <= 0.05))
           UNION ALL SELECT 'unique(l_orderkey,l_linenumber)',
             (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM
               (SELECT count(*) AS c FROM lineitem
                GROUP BY l_orderkey, l_linenumber) WHERE c > 1)
           UNION ALL SELECT 'ref(l_partkey->p_partkey)',
             (SELECT count(*) FROM lineitem l
              WHERE l.l_partkey IS NOT NULL AND NOT EXISTS
                (SELECT 1 FROM part p
                 WHERE p.p_partkey = l.l_partkey)))
         SELECT v.chk, v.violations, n.n_rows,
           v.violations = 0 AS pass
         FROM v, n ORDER BY chk""",
    "q63_mapgroups_slope" ->
      """WITH b AS (SELECT o_orderpriority,
             CAST(datediff('day', TIMESTAMP '1992-01-01', o_orderdate) AS BIGINT) AS x,
             CAST(o_totalprice AS DECIMAL(18,2)) AS y
           FROM orders)
         SELECT o_orderpriority, count(*) AS n,
           CASE WHEN count(*)*sum(x*x) - sum(x)*sum(x) = 0 THEN 0.0
                ELSE round(CAST(count(*)*sum(x*y) - sum(x)*sum(y) AS DOUBLE)
                     / CAST(count(*)*sum(x*x) - sum(x)*sum(x) AS DOUBLE), 8)
           END AS slope
         FROM b GROUP BY 1 ORDER BY 1""",
    // exact cosine top-k, independently recomputed: DuckDB's
    // list_cosine_similarity over DOUBLE[] agrees with the engine's
    // normalize-then-dot to ~1e-15 — far below the 1e-4 rounding and any
    // realistic rank gap on non-identical vectors.
    "q23_ann_brute" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
         s AS (SELECT query_id, e.vec_id AS item_id,
                 list_cosine_similarity(qv, e.v) AS cos
               FROM q, e WHERE e.vec_id != query_id),
         r AS (SELECT query_id, item_id, round(cos, 4) AS cos,
                 CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY s.cos DESC, item_id) AS INT) AS rank
               FROM s)
         SELECT query_id, item_id, cos, rank FROM r
         WHERE rank <= 5 ORDER BY query_id, rank""",
    // portable sign-bit LSH ⇒ exact oracles for the embedding family:
    // the hyperplanes are plan-time literals generated from the shared
    // md5-derived formula, so DuckDB buckets on the identical constants
    // and replays candidates + cosine verify/re-rank (list_cosine_
    // similarity parity established by q23).
    "q25_embed_neardup" -> {
      // bb replays Dedup.adaptiveLshBits(count, 256, 6, 20) with the
      // same integer ladder: bits = 6 + |{j in 1..14 : n > 256·2^(5+j)}|
      // (the thresholds are monotone, so counting ≡ the while loop),
      // and Dedup.adaptiveLshTables(2, 6, bits, 16) as
      // tbls = least(16, 2·2^((bits-5)//2)) — both integer-exact; the
      // gated bucket terms then truncate the maxBits plane list to
      // exactly the prefix Spark's plan embedded and the gated table
      // branches to exactly the tables it amplified to.
      val bk = lshBucketUnionGated("e", 58, maxTables = 16, maxBits = 20, dim = 64)
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         bb AS (SELECT bits, CAST(LEAST(16, 2 * (1 << ((bits - 5) // 2))) AS INT) AS tbls
                FROM (SELECT CAST(6 + count(*) AS INT) AS bits
                      FROM range(1, 15) t(j), (SELECT count(*) AS n FROM e) c
                      WHERE c.n > 256 * (1::BIGINT << (5 + j)))),
         bk AS ($bk),
         cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                  FROM bk a JOIN bk b
                    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
         p AS (SELECT id_a, id_b, round(list_cosine_similarity(ea.v, eb.v), 4) AS cos
               FROM cand JOIN e ea ON ea.vec_id = id_a
                         JOIN e eb ON eb.vec_id = id_b)
         SELECT id_a, id_b, cos FROM p WHERE cos >= 0.2
         ORDER BY id_a, id_b"""
    },
    "q24_ann_lsh" -> {
      val bk = lshBucketUnion("e", 977, tables = 4, bits = 6, dim = 64)
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         bk AS ($bk),
         cand AS (SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS item_id
                  FROM bk a JOIN bk b ON a.tbl = b.tbl AND a.bucket = b.bucket
                  WHERE a.vec_id < 10 AND b.vec_id != a.vec_id),
         s AS (SELECT cand.query_id, cand.item_id,
                 list_cosine_similarity(eq.v, ei.v) AS cos
               FROM cand JOIN e eq ON eq.vec_id = cand.query_id
                         JOIN e ei ON ei.vec_id = cand.item_id),
         r AS (SELECT query_id, item_id, round(cos, 4) AS cos,
                 CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY s.cos DESC, item_id) AS INT) AS rank
               FROM s)
         SELECT query_id, item_id, cos, rank FROM r
         WHERE rank <= 5 ORDER BY query_id, rank"""
    },
    // portable IVF ⇒ exact oracle: DuckDB re-picks the same 8 centroids
    // (md5-of-id order), re-assigns every item to its argmax list,
    // probes the query's top-3 lists, and re-ranks — mirroring
    // Similarity.ivfTopK decision for decision (ties broken by list id
    // in both engines).
    "q50_ann_ivf" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         en AS (SELECT vec_id,
                  CASE WHEN list_inner_product(v, v) = 0 THEN v
                       ELSE list_transform(v, x -> x / sqrt(list_inner_product(v, v)))
                  END AS nv
                FROM e),
         cent AS (SELECT nv AS cv, CAST(rn - 1 AS INT) AS lid FROM (
                    SELECT nv, row_number() OVER
                      (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
                    FROM en) WHERE rn <= 8),
         asn AS (SELECT item_id, lid FROM (
                   SELECT en.vec_id AS item_id, cent.lid,
                     row_number() OVER (PARTITION BY en.vec_id
                       ORDER BY list_inner_product(en.nv, cent.cv) DESC, cent.lid DESC) AS rn
                   FROM en, cent) WHERE rn = 1),
         qn AS (SELECT vec_id AS query_id, nv AS qv FROM en WHERE vec_id < 10),
         pr AS (SELECT query_id, qv, lid FROM (
                  SELECT qn.query_id, qn.qv, cent.lid,
                    row_number() OVER (PARTITION BY qn.query_id
                      ORDER BY list_inner_product(qn.qv, cent.cv) DESC, cent.lid DESC) AS rn
                  FROM qn, cent) WHERE rn <= 3),
         s AS (SELECT pr.query_id, asn.item_id, list_inner_product(pr.qv, en2.nv) AS cos
               FROM pr JOIN asn ON asn.lid = pr.lid
                       JOIN en en2 ON en2.vec_id = asn.item_id
               WHERE asn.item_id != pr.query_id),
         r AS (SELECT query_id, item_id, round(cos, 4) AS cos,
                 CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY s.cos DESC, item_id) AS INT) AS rank
               FROM s)
         SELECT query_id, item_id, cos, rank FROM r
         WHERE rank <= 5 ORDER BY query_id, rank""",
    // PQ/ADC replay: DuckDB re-derives the md5-first-8 codebooks,
    // re-encodes every vector (argmin |c|²−2·x·c per subspace),
    // re-scores every (query, item) pair with the identical
    // left-associated four-term ADC sum, and replays both rankings.
    // Every float op mirrors the Spark plan's shape bit for bit.
    "q89_ann_pq" -> {
      val (m, subdim, ksub, candN, k) = (4, 16, 8, 20, 5)
      def sl(v: String, j: Int) = s"$v[${j * subdim + 1}:${(j + 1) * subdim}]"
      val adc = (0 until m).map(j =>
          s"list_inner_product(${sl("q.qv", j)}, b$j.cw)")
        .reduceLeft((a, b) => s"($a + $b)")
      val bJoins = (0 until m).map(j =>
        s"JOIN cbs b$j ON b$j.j = $j AND b$j.c = ec.c$j").mkString(" ")
      val cWide = (0 until m).map(j =>
        s"max(CASE WHEN j = $j THEN c END) AS c$j").mkString(", ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         en AS (SELECT vec_id,
                  CASE WHEN list_inner_product(v, v) = 0 THEN v
                       ELSE list_transform(v, x -> x / sqrt(list_inner_product(v, v)))
                  END AS nv
                FROM e),
         cb AS (SELECT CAST(rn - 1 AS INT) AS code, nv FROM (
                  SELECT nv, row_number() OVER
                    (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
                  FROM en) WHERE rn <= $ksub),
         js AS (SELECT unnest(${(0 until m).mkString("[", ", ", "]")}) AS j),
         cbs AS (SELECT code AS c, j, nv[(j*$subdim+1):((j+1)*$subdim)] AS cw,
                   list_inner_product(nv[(j*$subdim+1):((j+1)*$subdim)],
                                      nv[(j*$subdim+1):((j+1)*$subdim)]) AS cc
                 FROM cb CROSS JOIN js),
         enc AS (SELECT vec_id, j, c FROM (
                   SELECT en.vec_id, cbs.j, cbs.c,
                     row_number() OVER (PARTITION BY en.vec_id, cbs.j
                       ORDER BY cbs.cc - 2 * list_inner_product(
                         en.nv[(cbs.j*$subdim+1):((cbs.j+1)*$subdim)], cbs.cw) ASC,
                       cbs.c ASC) AS rn
                   FROM en CROSS JOIN cbs) WHERE rn = 1),
         ec AS (SELECT vec_id AS item_id, $cWide FROM enc GROUP BY vec_id),
         qn AS (SELECT vec_id AS query_id, nv AS qv FROM en WHERE vec_id < 10),
         ad AS (SELECT q.query_id, ec.item_id, $adc AS approx
                FROM qn q CROSS JOIN ec $bJoins
                WHERE ec.item_id != q.query_id),
         sl AS (SELECT query_id, item_id, approx FROM (
                  SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY approx DESC, item_id ASC) AS cr
                  FROM ad) WHERE cr <= $candN),
         ex AS (SELECT s.query_id, s.item_id, s.approx,
                  list_inner_product(q.qv, en2.nv) AS cos
                FROM sl s JOIN en en2 ON en2.vec_id = s.item_id
                          JOIN qn q ON q.query_id = s.query_id),
         r AS (SELECT query_id, item_id, round(approx, 4) AS approx_pq,
                 round(cos, 4) AS cos,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY ex.cos DESC, item_id) AS INT) AS rank
               FROM ex)
         SELECT query_id, item_id, approx_pq, cos, rank FROM r
         WHERE rank <= $k ORDER BY query_id, rank"""
    },
    // portable MinHash+LSH ⇒ exact oracle: DuckDB rebuilds the char-5-
    // gram shingles, all 64 (a·h+b) mod p permutation minima, the
    // 8-band raw-slice inverted index, and the match-count verify —
    // integer math throughout, bit-exact.
    "q20_minhash" ->
      s"""WITH d AS (
           SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
           FROM documents),
         $minhashPipelineSql
         SELECT id_a, id_b, round(nm / 64.0, 4) AS est_jaccard
         FROM v WHERE nm / 64.0 >= 0.4
         ORDER BY id_a, id_b""",
    // incremental ≡ full-corpus on batch-touching pairs (signatures are
    // pure functions of text): the q20 replay, filtered to pairs where
    // at least one side is in the batch (doc_id % 3 = 0), re-oriented
    // so a spanning pair leads with its history id. Explicitly
    // p.-qualified CASE arms: DuckDB resolves sibling SELECT aliases,
    // so an unqualified id_a inside the second CASE would read the
    // FIRST case's output, not the source column.
    "q111_incremental_neardup" ->
      s"""WITH d AS (
           SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
           FROM documents),
         $minhashPipelineSql,
         p AS (SELECT id_a, id_b, round(nm / 64.0, 4) AS est_jaccard
               FROM v WHERE nm / 64.0 >= 0.4),
         o AS (SELECT
                 CASE WHEN p.id_a % 3 = 0 AND p.id_b % 3 <> 0
                      THEN p.id_b ELSE p.id_a END AS oa,
                 CASE WHEN p.id_a % 3 = 0 AND p.id_b % 3 <> 0
                      THEN p.id_a ELSE p.id_b END AS ob,
                 est_jaccard
               FROM p WHERE p.id_a % 3 = 0 OR p.id_b % 3 = 0)
         SELECT oa AS id_a, ob AS id_b, est_jaccard FROM o
         ORDER BY id_a, id_b""",
    // the q111 replay minus every pair whose history side was deleted
    // (%5=1 compacted away, %7=2 still tombstoned — the engine must
    // make the two states indistinguishable to admission).
    "q137_sigstore_delete" ->
      s"""WITH d AS (
           SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
           FROM documents),
         $minhashPipelineSql,
         p AS (SELECT id_a, id_b, round(nm / 64.0, 4) AS est_jaccard
               FROM v WHERE nm / 64.0 >= 0.4),
         o AS (SELECT
                 CASE WHEN p.id_a % 3 = 0 AND p.id_b % 3 <> 0
                      THEN p.id_b ELSE p.id_a END AS oa,
                 CASE WHEN p.id_a % 3 = 0 AND p.id_b % 3 <> 0
                      THEN p.id_a ELSE p.id_b END AS ob,
                 est_jaccard
               FROM p WHERE p.id_a % 3 = 0 OR p.id_b % 3 = 0)
         SELECT oa AS id_a, ob AS id_b, est_jaccard FROM o
         WHERE NOT (oa % 3 <> 0 AND (oa % 5 = 1 OR oa % 7 = 2))
         ORDER BY id_a, id_b""",
    // the upsert lifecycle replay: the q111 pipeline over the NET
    // history — %5=1 history docs carry the token-REVERSED text (the
    // replacement; token reversal commutes with the lower/trim/
    // collapse normalization, so reversing the norm's tokens replays
    // the engine's raw-text mutation exactly), %7=2 history docs are
    // excluded UNLESS %5=1 revived them with the new content.
    "q140_sigstore_upsert" ->
      s"""WITH d0 AS (
           SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
           FROM documents),
         d AS (SELECT doc_id,
                 CASE WHEN doc_id % 3 <> 0 AND doc_id % 5 = 1
                      THEN array_to_string(list_reverse(string_split(norm, ' ')), ' ')
                      ELSE norm END AS norm
               FROM d0),
         $minhashPipelineSql,
         p AS (SELECT id_a, id_b, round(nm / 64.0, 4) AS est_jaccard
               FROM v WHERE nm / 64.0 >= 0.4),
         o AS (SELECT
                 CASE WHEN p.id_a % 3 = 0 AND p.id_b % 3 <> 0
                      THEN p.id_b ELSE p.id_a END AS oa,
                 CASE WHEN p.id_a % 3 = 0 AND p.id_b % 3 <> 0
                      THEN p.id_a ELSE p.id_b END AS ob,
                 est_jaccard
               FROM p WHERE p.id_a % 3 = 0 OR p.id_b % 3 = 0)
         SELECT oa AS id_a, ob AS id_b, est_jaccard FROM o
         WHERE NOT (oa % 3 <> 0 AND oa % 7 = 2 AND oa % 5 <> 1)
         ORDER BY id_a, id_b""",
    // the bucketed upsert lifecycle gates through the NET-STATE audit:
    // the engine must report every net-history id (%3≠0 kept unless a
    // standing %7=2 takedown, which the %5=1 upsert revives) with its
    // stored signature AND band rows equal to the net text's — the
    // oracle is the net membership itself, all-true. A resurrected
    // takedown or unexpected survivor adds a row; a lost id, kept old
    // content, or stale band rows flips a boolean.
    "q141_sigstore_upsert_bucketed" ->
      """SELECT doc_id, true AS sig_ok, true AS bands_ok FROM documents
         WHERE doc_id % 3 <> 0 AND (doc_id % 7 <> 2 OR doc_id % 5 = 1)
         ORDER BY doc_id""",
    // bucketed-store CDC (q142): same audit convention — the oracle
    // is the net membership after I (%3=0 fresh), U (%5=1 replaced),
    // D (%7=2 down — the later D beats the overlap's U), and a
    // late re-delivered I of a taken-down id that must stay down.
    "q142_sigstore_cdc_bucketed" ->
      """SELECT doc_id, true AS sig_ok, true AS bands_ok FROM documents
         WHERE doc_id % 3 = 0 OR doc_id % 7 <> 2
         ORDER BY doc_id""",
    // the bucketed WIDE-SimHash CDC lifecycle (q143): q142's audit
    // convention minus the bands leg — the oracle is the net
    // membership after I/U/D and the late re-delivered I that must
    // stay down, all-true on the one signature boolean.
    "q143_widesim_cdc_bucketed" ->
      """SELECT doc_id, true AS sig_ok FROM documents
         WHERE doc_id % 3 = 0 OR doc_id % 7 <> 2
         ORDER BY doc_id""",
    // the merge invariant is the split's, in reverse — same plain
    // brute-force oracle over the full corpus (q135's SQL, k=6).
    "q138_ann_merge" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         en AS (SELECT vec_id,
                  CASE WHEN list_inner_product(v, v) = 0 THEN v
                       ELSE list_transform(v, x -> x / sqrt(list_inner_product(v, v)))
                  END AS nv
                FROM e),
         q AS (SELECT vec_id AS query_id, nv AS qv FROM en WHERE vec_id < 8),
         s AS (SELECT query_id, en.vec_id AS item_id,
                 list_inner_product(qv, en.nv) AS cos
               FROM q, en WHERE en.vec_id != query_id),
         r AS (SELECT query_id, item_id, round(cos, 4) AS cos,
                 CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY s.cos DESC, item_id) AS INT) AS rank
               FROM s)
         SELECT query_id, item_id, cos, rank FROM r
         WHERE rank <= 6 ORDER BY query_id, rank""",
    // time-travel delta: v_old = the base batch alone, v_live = the
    // q94/q110 merge arbitration replay; the delta is the full-outer
    // mismatch between them. The snapshot protocol must be invisible:
    // the oracle never sees a manifest, only the two logical states.
    "q112_snapshot_delta" ->
      """WITH base AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
         ch AS (
           SELECT c_custkey,
             CASE WHEN c_custkey % 11 = 0 THEN 'D' ELSE 'U' END AS op,
             c_name || '_v2' AS c_name, c_acctbal + 100.0 AS c_acctbal
           FROM customer WHERE c_custkey % 7 = 0 OR c_custkey % 11 = 0
           UNION ALL
           SELECT c_custkey + 1000000, 'I', c_name || '_new', 0.0
           FROM customer WHERE c_custkey % 13 = 0),
         v2 AS (
           SELECT coalesce(ch.c_custkey, base.c_custkey) AS c_custkey,
             CASE WHEN ch.op IS NOT NULL THEN ch.c_name ELSE base.c_name END AS c_name,
             CASE WHEN ch.op IS NOT NULL THEN ch.c_acctbal ELSE base.c_acctbal END AS c_acctbal
           FROM base FULL JOIN ch ON base.c_custkey = ch.c_custkey
           WHERE ch.op IS NULL OR ch.op <> 'D')
         SELECT coalesce(v2.c_custkey, base.c_custkey) AS c_custkey,
           CASE WHEN base.c_custkey IS NULL THEN 'insert'
                WHEN v2.c_custkey IS NULL THEN 'delete'
                ELSE 'update' END AS change,
           base.c_name AS name_old, v2.c_name AS name_new,
           base.c_acctbal AS bal_old, v2.c_acctbal AS bal_new
         FROM base FULL JOIN v2 ON base.c_custkey = v2.c_custkey
         WHERE base.c_custkey IS NULL OR v2.c_custkey IS NULL
            OR base.c_name <> v2.c_name OR base.c_acctbal <> v2.c_acctbal
         ORDER BY c_custkey""",
    // version 1 IS the base batch: the oracle never sees the second
    // commit — which is the point (retained history is unchanged by
    // later writes).
    "q113_sql_time_travel" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
         ORDER BY c_custkey""",
    // nearDupCollapsed mirror: reps = min-id per distinct text run the
    // same q20 pipeline; rep pairs expand to all member combinations
    // (re-canonicalized), within-group member pairs join at score 1.0.
    "q72_neardup_collapsed" ->
      s"""WITH m AS (
           SELECT doc_id, text, min(doc_id) OVER (PARTITION BY text) AS rep_id
           FROM documents),
         d AS (
           SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
           FROM m WHERE doc_id = rep_id),
         $minhashPipelineSql,
         rp AS (SELECT id_a, id_b, round(nm / 64.0, 4) AS est_jaccard
                FROM v WHERE nm / 64.0 >= 0.4),
         cx AS (SELECT least(ma.doc_id, mb.doc_id) AS id_a,
                  greatest(ma.doc_id, mb.doc_id) AS id_b, est_jaccard
                FROM rp JOIN m ma ON ma.rep_id = rp.id_a
                        JOIN m mb ON mb.rep_id = rp.id_b),
         wi AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, 1.0 AS est_jaccard
                FROM m a JOIN m b
                  ON a.rep_id = b.rep_id AND a.doc_id < b.doc_id)
         SELECT id_a, id_b, est_jaccard FROM cx
         UNION ALL SELECT id_a, id_b, est_jaccard FROM wi
         ORDER BY id_a, id_b""",
    // portable SimHash ⇒ exact oracle: DuckDB rebuilds the 60-bit
    // signature (per-bit majority votes over md5-derived token hashes),
    // the 7-chunk banding, and the hamming verify — integer math
    // throughout, bit-exact.
    "q21_simhash" -> {
      val chunkCase = Dedup.simhashChunkBounds(60, 6).zipWithIndex.map {
        case ((start, width), c) => s"WHEN $c THEN (sig >> $start) & ${(1L << width) - 1}"
      }.mkString(" ")
      s"""WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                      x -> len(x) > 0) AS ts
           FROM documents),
         tok AS (SELECT doc_id, unnest(ts) AS tk FROM t),
         hs AS (SELECT doc_id, ${graft.functions.PortableHash.sqlH60("tk")} AS h FROM tok),
         vt AS (SELECT doc_id, b,
                  sum(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) AS v
                FROM hs, (SELECT unnest(range(0, 60)) AS b) bits
                GROUP BY doc_id, b),
         sg AS (SELECT doc_id,
                  CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS sig
                FROM vt GROUP BY doc_id),
         ck AS (SELECT doc_id, sig, c, CASE c $chunkCase END AS key
                FROM sg, (SELECT unnest(range(0, 7)) AS c) cs),
         p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
               FROM ck a JOIN ck b
                 ON a.c = b.c AND a.key = b.key AND a.doc_id < b.doc_id)
         SELECT id_a, id_b, hamming FROM p WHERE hamming <= 6
         ORDER BY id_a, id_b"""
    },
    // wide-SimHash replay: both 60-bit signatures (raw + salted draw),
    // the spliced chunk keys, and the summed hamming — all integer
    // arithmetic, bit-exact cross-engine.
    "q133_simhash_wide" -> {
      val chunkCase = Dedup.simhashChunkBounds(120, 6).zipWithIndex.map {
        case ((start, width), c) =>
          s"WHEN $c THEN ${Dedup.sqlWideChunkKey(start, width, 60)}"
      }.mkString(" ")
      val salted = graft.functions.PortableHash.sqlSaltedKey("tk",
        Dedup.WideSimhashSalt)
      s"""WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                      x -> len(x) > 0) AS ts
           FROM documents),
         tok AS (SELECT doc_id, unnest(ts) AS tk FROM t),
         hs AS (SELECT doc_id,
                  ${graft.functions.PortableHash.sqlH60("tk")} AS h0,
                  ${graft.functions.PortableHash.sqlH60(salted)} AS h1
                FROM tok),
         vt AS (SELECT doc_id, b,
                  sum(CASE WHEN ((h0 >> b) & 1) = 1 THEN 1 ELSE -1 END) AS v0,
                  sum(CASE WHEN ((h1 >> b) & 1) = 1 THEN 1 ELSE -1 END) AS v1
                FROM hs, (SELECT unnest(range(0, 60)) AS b) bits
                GROUP BY doc_id, b),
         sg AS (SELECT doc_id,
                  CAST(sum(CASE WHEN v0 > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS sig0,
                  CAST(sum(CASE WHEN v1 > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS sig1
                FROM vt GROUP BY doc_id),
         ck AS (SELECT doc_id, sig0, sig1, c, CASE c $chunkCase END AS key
                FROM sg, (SELECT unnest(range(0, 7)) AS c) cs),
         p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(bit_count(xor(a.sig0, b.sig0))
                      + bit_count(xor(a.sig1, b.sig1)) AS INT) AS hamming
               FROM ck a JOIN ck b
                 ON a.c = b.c AND a.key = b.key AND a.doc_id < b.doc_id)
         SELECT id_a, id_b, hamming FROM p WHERE hamming <= 6
         ORDER BY id_a, id_b"""
    },
    // routed-sharded replay: q132's replay with the hash split swapped
    // for the super-quantizer — sup = global md5-first 2 normalized
    // vectors, ish = argmax shard assignment (d DESC, sid DESC — the
    // engine's array_max struct tiebreak), cent/asn per shard as in
    // q132, rt = each query's TOP routed shard by the same ordering,
    // pr = probe ranks computed ONLY within routed shards, one global
    // ranking. Queries outside a shard's route never contribute
    // candidates there — the pruning is replayed, not approximated.
    "q134_ann_routed" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         en AS (SELECT vec_id,
                  CASE WHEN list_inner_product(v, v) = 0 THEN v
                       ELSE list_transform(v, x -> x / sqrt(list_inner_product(v, v)))
                  END AS nv
                FROM e),
         sup AS (SELECT nv AS cv, CAST(rn - 1 AS INT) AS sid FROM (
                   SELECT nv, row_number() OVER (
                     ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
                   FROM en) WHERE rn <= 2),
         ish AS (SELECT vec_id, nv, sid AS sh FROM (
                   SELECT en.vec_id, en.nv, sup.sid,
                     row_number() OVER (PARTITION BY en.vec_id
                       ORDER BY list_inner_product(en.nv, sup.cv) DESC, sup.sid DESC) AS rn
                   FROM en, sup) WHERE rn = 1),
         cent AS (SELECT sh, nv AS cv, CAST(rn - 1 AS INT) AS lid FROM (
                    SELECT sh, nv, row_number() OVER (PARTITION BY sh
                      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
                    FROM ish) WHERE rn <= 4),
         asn AS (SELECT item_id, sh, lid FROM (
                   SELECT ish.vec_id AS item_id, ish.sh, cent.lid,
                     row_number() OVER (PARTITION BY ish.vec_id
                       ORDER BY list_inner_product(ish.nv, cent.cv) DESC, cent.lid DESC) AS rn
                   FROM ish JOIN cent ON cent.sh = ish.sh) WHERE rn = 1),
         qn AS (SELECT vec_id AS query_id, nv AS qv FROM en WHERE vec_id < 10),
         rt AS (SELECT query_id, sid AS sh FROM (
                  SELECT qn.query_id, sup.sid,
                    row_number() OVER (PARTITION BY qn.query_id
                      ORDER BY list_inner_product(qn.qv, sup.cv) DESC, sup.sid DESC) AS rn
                  FROM qn, sup) WHERE rn <= 1),
         pr AS (SELECT query_id, qv, sh, lid FROM (
                  SELECT qn.query_id, qn.qv, cent.sh, cent.lid,
                    row_number() OVER (PARTITION BY qn.query_id, cent.sh
                      ORDER BY list_inner_product(qn.qv, cent.cv) DESC, cent.lid DESC) AS rn
                  FROM qn JOIN rt ON rt.query_id = qn.query_id
                          JOIN cent ON cent.sh = rt.sh) WHERE rn <= 2),
         s AS (SELECT pr.query_id, asn.item_id, list_inner_product(pr.qv, en2.nv) AS cos
               FROM pr JOIN asn ON asn.sh = pr.sh AND asn.lid = pr.lid
                       JOIN en en2 ON en2.vec_id = asn.item_id
               WHERE asn.item_id != pr.query_id),
         r AS (SELECT query_id, item_id, round(cos, 4) AS cos,
                 CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY s.cos DESC, item_id) AS INT) AS rank
               FROM s)
         SELECT query_id, item_id, cos, rank FROM r
         WHERE rank <= 5 ORDER BY query_id, rank""",
    // the split's deterministic invariant (see the query comment): the
    // post-split exhaustive routed search must equal brute-force top-k
    // exactly — the oracle is the plain q23-shaped scan, because any
    // item the split lost, duplicated, or misfiled would change some
    // query's ranking and flip the hash.
    "q135_ann_split" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         en AS (SELECT vec_id,
                  CASE WHEN list_inner_product(v, v) = 0 THEN v
                       ELSE list_transform(v, x -> x / sqrt(list_inner_product(v, v)))
                  END AS nv
                FROM e),
         q AS (SELECT vec_id AS query_id, nv AS qv FROM en WHERE vec_id < 8),
         s AS (SELECT query_id, en.vec_id AS item_id,
                 list_inner_product(qv, en.nv) AS cos
               FROM q, en WHERE en.vec_id != query_id),
         r AS (SELECT query_id, item_id, round(cos, 4) AS cos,
                 CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY s.cos DESC, item_id) AS INT) AS rank
               FROM s)
         SELECT query_id, item_id, cos, rank FROM r
         WHERE rank <= 6 ORDER BY query_id, rank""",
    // the delete lifecycle's deterministic invariant (see the query
    // comment): after tombstoning %7=3 (then compacting it away) and
    // tombstoning %11=5 (still standing), the exhaustive routed search
    // must be brute-force top-k over EXACTLY the remaining corpus —
    // the oracle is the plain scan with both subsets filtered out.
    "q136_ann_delete" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         en AS (SELECT vec_id,
                  CASE WHEN list_inner_product(v, v) = 0 THEN v
                       ELSE list_transform(v, x -> x / sqrt(list_inner_product(v, v)))
                  END AS nv
                FROM e),
         q AS (SELECT vec_id AS query_id, nv AS qv FROM en WHERE vec_id < 8),
         live AS (SELECT * FROM en
                  WHERE vec_id % 7 != 3 AND vec_id % 11 != 5),
         s AS (SELECT query_id, live.vec_id AS item_id,
                 list_inner_product(qv, live.nv) AS cos
               FROM q, live WHERE live.vec_id != query_id),
         r AS (SELECT query_id, item_id, round(cos, 4) AS cos,
                 CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY s.cos DESC, item_id) AS INT) AS rank
               FROM s)
         SELECT query_id, item_id, cos, rank FROM r
         WHERE rank <= 6 ORDER BY query_id, rank""",
    // the CDC upsert lifecycle's deterministic invariant (see the
    // query comment): the oracle replays the NET state in SQL — base
    // %5!=4 plus inserted %5==4 is ALL ids; %9==2 carry the replaced
    // (reversed) vector; batch-1 deletes %7==1 except the subset
    // batch 2 revives (%3==0, back to the ORIGINAL vector — the
    // revival supersedes the reversal); batch-2 deletes %13==6 win
    // over everything (same-batch U+D resolves to D). Brute-force
    // top-k over that state, the q135 scan shape.
    "q139_ann_cdc" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         en AS (SELECT vec_id,
                  CASE WHEN list_inner_product(v, v) = 0 THEN v
                       ELSE list_transform(v, x -> x / sqrt(list_inner_product(v, v)))
                  END AS nv
                FROM e),
         lv AS (SELECT vec_id,
                  CASE WHEN vec_id % 7 = 1 AND vec_id % 3 = 0
                            AND vec_id % 2 = 0 THEN v
                       WHEN vec_id % 9 = 2 AND vec_id % 2 = 0
                            THEN list_reverse(v)
                       ELSE v END AS v
                FROM e
                WHERE vec_id % 13 != 6
                  AND (vec_id % 7 != 1 OR
                       (vec_id % 3 = 0 AND vec_id % 2 = 0))),
         ln AS (SELECT vec_id,
                  CASE WHEN list_inner_product(v, v) = 0 THEN v
                       ELSE list_transform(v, x -> x / sqrt(list_inner_product(v, v)))
                  END AS nv
                FROM lv),
         q AS (SELECT vec_id AS query_id, nv AS qv FROM en WHERE vec_id < 8),
         s AS (SELECT query_id, ln.vec_id AS item_id,
                 list_inner_product(qv, ln.nv) AS cos
               FROM q, ln WHERE ln.vec_id != query_id),
         r AS (SELECT query_id, item_id, round(cos, 4) AS cos,
                 CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY s.cos DESC, item_id) AS INT) AS rank
               FROM s)
         SELECT query_id, item_id, cos, rank FROM r
         WHERE rank <= 6 ORDER BY query_id, rank""",
    // portable fingerprint ⇒ exact oracle: DuckDB rebuilds the token
    // 3-gram shingles and the md5-derived 60-bit hash (PortableHash
    // parity) and takes the same min — bit-exact.
    "q19_fingerprint" ->
      s"""WITH t AS (
           SELECT doc_id, text, list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                            x -> len(x) > 0) AS ts
           FROM documents),
         sh AS (
           SELECT doc_id, text,
             CASE WHEN len(ts) < 3 THEN CAST([] AS VARCHAR[])
                  ELSE [array_to_string(ts[i:i+2], ' ')
                        for i in range(1, len(ts)-1)] END AS s
           FROM t)
         SELECT doc_id,
           CASE WHEN len(s) = 0 THEN ${graft.functions.PortableHash.sqlH60("trim(text)")}
                ELSE list_min(list_transform(s, g -> ${graft.functions.PortableHash.sqlH60("g")})) END AS fp
         FROM sh ORDER BY doc_id""",
    // exact algorithm ⇒ exact oracle: DuckDB recomputes token-5-gram
    // Jaccard from scratch (shared-shingle candidates + list_intersect
    // verify) — integer/string math throughout, so the hash compare is
    // bit-exact. Mirrors Dedup.ngramJaccardPairs semantics, not its
    // prefix-filter optimization.
    "q22_jaccard" ->
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'),
                                      x -> len(x) > 0) AS ts
           FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(ts) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct([array_to_string(ts[i:i+4], ' ')
                                      for i in range(1, len(ts)-3)]) END AS s
           FROM t),
         ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id),
         v AS (SELECT c.id_a, c.id_b,
                 len(list_intersect(sa.s, sb.s)) AS inter,
                 len(sa.s) AS na, len(sb.s) AS nb
               FROM cand c JOIN sh sa ON sa.doc_id = c.id_a
                           JOIN sh sb ON sb.doc_id = c.id_b)
         SELECT id_a, id_b,
           round(inter / CAST(na + nb - inter AS DOUBLE), 4) AS jaccard
         FROM v WHERE inter / CAST(na + nb - inter AS DOUBLE) >= 0.8
         ORDER BY id_a, id_b""",
    "q62_variant" ->
      """SELECT CAST(k % 10 AS INT) AS bucket, count(*) AS n,
         CAST(sum(k) AS BIGINT) AS sum_k
         FROM (SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k
               FROM events
               WHERE json_extract_string(props, '$.k') IS NOT NULL)
         GROUP BY 1 ORDER BY bucket""",
    "q61_recursive_cte" ->
      """WITH RECURSIVE midx(m) AS (
           SELECT 0 UNION ALL SELECT m + 1 FROM midx WHERE m < 83),
         om AS (SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
                       count(*) AS n
                FROM orders GROUP BY 1, 2)
         SELECT CAST(1992 + m // 12 AS INT) AS yr,
                CAST(1 + m % 12 AS INT) AS mo,
                CAST(coalesce(n, 0) AS BIGINT) AS n_orders
         FROM midx LEFT JOIN om
           ON om.yr = 1992 + m // 12 AND om.mo = 1 + m % 12
         ORDER BY yr, mo""",
    "q59_agg_filter" ->
      """SELECT l_returnflag,
         count(*) AS n_all,
         count(*) FILTER (WHERE l_quantity > 30) AS n_bulk,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
              FILTER (WHERE l_discount >= 0.05) AS DOUBLE) AS rev_discounted,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
              FILTER (WHERE l_discount < 0.05) AS DOUBLE) AS rev_full
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q60_string_agg" ->
      """SELECT r_name,
         string_agg(n_name, ',' ORDER BY n_name) AS nations
         FROM nation JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name""",
    "q58_bloom_join" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS yr, count(*) AS n_lines,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem JOIN (
           SELECT o_orderkey, o_orderdate FROM orders
           WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000)
         ON l_orderkey = o_orderkey
         GROUP BY 1 ORDER BY yr""",
    "q73_choice_make_cols" ->
      """SELECT * FROM (
           SELECT p_partkey AS id_bigint, CAST(NULL AS INT) AS id_int,
             p_retailprice AS price_double, CAST(NULL AS INT) AS price_int,
             p_name AS info_string, CAST(NULL AS INT) AS info_int,
             'part' AS src FROM part
           UNION ALL
           SELECT CAST(NULL AS BIGINT), CAST(s_suppkey AS INT),
             CAST(NULL AS DOUBLE), CAST(floor(s_acctbal) AS INT),
             CAST(NULL AS VARCHAR), s_nationkey, 'supplier' FROM supplier)
         ORDER BY src, coalesce(id_bigint, id_int)""",
    // invariant oracles for the engine-specific randomness family: the
    // oracle recomputes the exact population side and asserts the
    // statistical flags as literal TRUE — any sketch/sampler drift
    // makes the engine emit false and the hash compare fail.
    "q31_approx_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
         TRUE AS hll_ok
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q57_sample_sketch" ->
      """SELECT l_returnflag, count(*) AS n_pop,
         TRUE AS sample_ok, TRUE AS p50_ok
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q70_stratified_sample" ->
      """SELECT lang, count(*) AS n_pop, TRUE AS sample_ok
         FROM documents GROUP BY lang ORDER BY lang""",
    "q71_ann_ivf_trained" ->
      """SELECT count(*) AS n_queries, count(*) * 5 AS total_possible,
         TRUE AS recall_ok
         FROM embeddings WHERE vec_id < 10""",
    "q86_pipeline_report" ->
      """WITH d AS (
           SELECT doc_id, lang, text,
             list_filter(regexp_split_to_array(trim(text), '\s+'),
                         x -> len(x) > 0) AS ts
           FROM documents),
         q AS (SELECT * FROM d
               WHERE len(ts) >= 20
                 AND 10 * len(regexp_extract_all(text, '[0-9]'))
                     <= 3 * greatest(length(text), 1)),
         k AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY text),
         dd AS (SELECT q.* FROM q JOIN k USING (doc_id)),
         sh AS (SELECT doc_id,
             CASE WHEN len(ts) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct([array_to_string(ts[i:i+4], ' ')
                                      for i in range(1, len(ts)-3)]) END AS s
           FROM d),
         ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         b AS (SELECT DISTINCT g FROM ex WHERE doc_id < 10),
         h AS (SELECT doc_id, count(*) AS n_hit FROM ex
               WHERE g IN (SELECT g FROM b) GROUP BY doc_id),
         cl AS (SELECT dd.lang, dd.doc_id FROM dd
                JOIN sh ON sh.doc_id = dd.doc_id
                LEFT JOIN h ON h.doc_id = dd.doc_id
                WHERE coalesce(h.n_hit, 0) * 2 < len(sh.s)),
         r AS (SELECT lang, count(*) AS n_raw FROM d GROUP BY 1),
         rq AS (SELECT lang, count(*) AS n_quality FROM q GROUP BY 1),
         rd AS (SELECT lang, count(*) AS n_dedup FROM dd GROUP BY 1),
         rc AS (SELECT lang, count(*) AS n_clean FROM cl GROUP BY 1)
         SELECT r.lang, r.n_raw,
           CAST(coalesce(rq.n_quality, 0) AS BIGINT) AS n_quality,
           CAST(coalesce(rd.n_dedup, 0) AS BIGINT) AS n_dedup,
           CAST(coalesce(rc.n_clean, 0) AS BIGINT) AS n_clean
         FROM r LEFT JOIN rq USING (lang) LEFT JOIN rd USING (lang)
                LEFT JOIN rc USING (lang)
         ORDER BY lang""",
    "q87_scd2_history" ->
      """WITH log AS (SELECT user_id, epoch_us(ts) AS t_us, event_id, value,
           CASE WHEN event_type IN ('view','signup') THEN 'insert'
                WHEN event_type = 'error' THEN 'delete'
                ELSE 'update' END AS op
         FROM events),
         v AS (SELECT user_id, event_id, value, op,
             t_us AS valid_from,
             lead(t_us, 1) OVER
               (PARTITION BY user_id ORDER BY t_us, event_id) AS valid_to
           FROM log)
         SELECT user_id, event_id, value, op, valid_from, valid_to,
           (valid_to IS NULL) AS is_current
         FROM v WHERE op <> 'delete'
         ORDER BY user_id, valid_from, event_id""",
    "q88_zorder_layout" -> {
      val z = operators.Layout.zSql("na", "nb", 6)
      s"""WITH m AS (SELECT min(l_partkey) AS pmin, max(l_partkey) AS pmax,
                min(l_suppkey) AS smin, max(l_suppkey) AS smax FROM lineitem),
         n AS (SELECT l_partkey, l_suppkey,
             ((l_partkey - pmin) * 64) // (pmax - pmin + 1) AS na,
             ((l_suppkey - smin) * 64) // (smax - smin + 1) AS nb
           FROM lineitem, m),
         z AS (SELECT l_partkey, l_suppkey, ($z) AS z FROM n)
         SELECT z >> 6 AS tile_id, count(*) AS n_rows,
           min(l_partkey) AS min_a, max(l_partkey) AS max_a,
           min(l_suppkey) AS min_b, max(l_suppkey) AS max_b
         FROM z GROUP BY 1 ORDER BY tile_id"""
    },
    "q85_length_histogram" ->
      """SELECT lang, CAST(n_chars // 50 AS INT) AS bucket,
         count(*) AS n_docs, min(n_chars) AS min_chars, max(n_chars) AS max_chars
         FROM documents GROUP BY 1, 2 ORDER BY lang, bucket""",
    "q84_bigram_surprisal" ->
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'),
                                      x -> len(x) > 0) AS ts
           FROM documents),
         bg AS (
           SELECT doc_id, unnest(
             CASE WHEN len(ts) < 2 THEN CAST([] AS VARCHAR[])
                  ELSE [array_to_string(ts[i:i+1], ' ')
                        for i in range(1, len(ts))] END) AS b
           FROM t),
         pc AS (SELECT doc_id, split_part(b, ' ', 1) AS prev,
                  split_part(b, ' ', 2) AS cur FROM bg),
         dcnt AS (SELECT doc_id, prev, cur, count(*) AS cnt FROM pc GROUP BY 1, 2, 3),
         cab AS (SELECT prev, cur, count(*) AS cab FROM pc GROUP BY 1, 2),
         ca AS (SELECT prev, CAST(sum(cab) AS BIGINT) AS ca FROM cab GROUP BY 1),
         vv AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v FROM
                  (SELECT unnest(ts) AS tok FROM t)),
         l AS (SELECT doc_id, list_sort(list(struct_pack(
                  prev := dcnt.prev, cur := dcnt.cur, cnt := cnt,
                  cab := cab.cab, ca := ca.ca))) AS cc
               FROM dcnt JOIN cab USING (prev, cur) JOIN ca USING (prev)
               GROUP BY doc_id),
         f AS (SELECT doc_id,
                 CAST(list_sum(list_transform(cc, x -> x.cnt)) AS BIGINT) AS n,
                 list_sum(list_transform(cc, x ->
                   CAST(x.cnt AS DOUBLE)
                     * (log2(CAST(x.ca AS DOUBLE) + vv.v)
                        - log2(CAST(x.cab AS DOUBLE) + 1.0)))) AS ssum
               FROM l, vv)
         SELECT d.doc_id, CAST(coalesce(f.n, 0) AS BIGINT) AS n_bigrams,
           CASE WHEN f.n IS NULL OR f.n <= 0 THEN 0.0
                ELSE round(f.ssum / f.n, 4) END AS bits_per_bigram
         FROM documents d LEFT JOIN f ON f.doc_id = d.doc_id
         ORDER BY d.doc_id""",
    "q83_tfidf_top_term" ->
      """WITH tk AS (
           SELECT doc_id, unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                             x -> len(x) > 0)) AS tok
           FROM documents),
         dtf AS (SELECT doc_id, tok, count(*) AS cnt FROM tk GROUP BY 1, 2),
         dl AS (SELECT doc_id, count(*) AS n_tok FROM tk GROUP BY 1),
         dft AS (SELECT tok, count(*) AS df FROM dtf GROUP BY 1),
         nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
         sc AS (SELECT dtf.doc_id, dtf.tok,
                  round(dtf.cnt / CAST(dl.n_tok AS DOUBLE)
                    * ln((nd.n + 1.0) / (dft.df + 1.0)), 6) AS score
                FROM dtf JOIN dl USING (doc_id) JOIN dft USING (tok), nd),
         r AS (SELECT doc_id, tok, score,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY score DESC, tok) AS rk
               FROM sc)
         SELECT doc_id, tok AS term, score AS tfidf
         FROM r WHERE rk = 1 ORDER BY doc_id""",
    // exact top-10 mirrored; the sketch-contract flags are invariants
    // the Spark side must prove TRUE (Misra–Gries theorems — scale-
    // independent, unlike the old exact-equality oracle)
    "q82_heavy_hitters" ->
      """WITH tk AS (
           SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                     x -> len(x) > 0)) AS tok
           FROM documents)
         SELECT tok, count(*) AS cnt,
           TRUE AS reported_ok, TRUE AS bound_ok FROM tk
         GROUP BY tok ORDER BY cnt DESC, tok LIMIT 10""",
    "q79_repetition" ->
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'),
                                      x -> len(x) > 0) AS ts
           FROM documents),
         b AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
                 CASE WHEN len(ts) < 3 THEN CAST([] AS VARCHAR[])
                      ELSE [array_to_string(ts[i:i+2], ' ')
                            for i in range(1, len(ts)-1)] END AS s3,
                 CASE WHEN len(ts) < 2 THEN CAST([] AS VARCHAR[])
                      ELSE [array_to_string(ts[i:i+1], ' ')
                            for i in range(1, len(ts))] END AS s2
               FROM t),
         d3 AS (SELECT doc_id, n_tokens,
                  CASE WHEN len(s3) <= 0 THEN 0.0
                       ELSE round(1.0 - len(list_distinct(s3))
                                  / CAST(len(s3) AS DOUBLE), 4) END AS dup3_frac
                FROM b),
         e2 AS (SELECT doc_id, unnest(s2) AS g FROM b),
         c2 AS (SELECT doc_id, g, count(*) AS c FROM e2 GROUP BY 1, 2),
         t2 AS (SELECT doc_id, max(c) AS top_c, CAST(sum(c) AS BIGINT) AS n2
                FROM c2 GROUP BY 1)
         SELECT d3.doc_id, d3.n_tokens, d3.dup3_frac,
           CASE WHEN t2.n2 IS NULL OR t2.n2 <= 0 THEN 0.0
                ELSE round(t2.top_c / CAST(t2.n2 AS DOUBLE), 4) END AS top2_share
         FROM d3 LEFT JOIN t2 ON t2.doc_id = d3.doc_id
         ORDER BY d3.doc_id""",
    "q78_chunk_overlap" ->
      """WITH c AS (
           SELECT doc_id, text,
             unnest(range(0, greatest(len(text), 1), 150)) AS cs
           FROM documents WHERE text IS NOT NULL)
         SELECT doc_id, CAST(cs // 150 AS INT) AS chunk_id,
           substr(text, CAST(cs AS INT) + 1, 200) AS chunk
         FROM c ORDER BY doc_id, chunk_id""",
    "q76_contamination" ->
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'),
                                      x -> len(x) > 0) AS ts
           FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(ts) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct([array_to_string(ts[i:i+4], ' ')
                                      for i in range(1, len(ts)-3)]) END AS s
           FROM t),
         ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         b AS (SELECT DISTINCT g FROM ex WHERE doc_id < 10),
         h AS (SELECT doc_id, count(*) AS n_hit FROM ex
               WHERE g IN (SELECT g FROM b) GROUP BY doc_id)
         SELECT sh.doc_id, CAST(len(sh.s) AS BIGINT) AS n_sh,
           CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
           CASE WHEN len(sh.s) = 0 THEN 0.0
                ELSE round(coalesce(h.n_hit, 0) / CAST(len(sh.s) AS DOUBLE), 4)
           END AS contamination
         FROM sh LEFT JOIN h ON h.doc_id = sh.doc_id
         ORDER BY sh.doc_id""",
    "q77_unigram_surprisal" ->
      """WITH tk AS (
           SELECT doc_id, unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                             x -> len(x) > 0)) AS tok
           FROM documents),
         dc AS (SELECT doc_id, tok, count(*) AS cnt FROM tk GROUP BY 1, 2),
         gc AS (SELECT tok, count(*) AS gcnt FROM tk GROUP BY 1),
         tt AS (SELECT count(*) AS total FROM tk),
         l AS (SELECT doc_id,
                 list_sort(list(struct_pack(tok := tok, cnt := cnt, gcnt := gcnt))) AS cc
               FROM dc JOIN gc USING (tok) GROUP BY doc_id),
         f AS (SELECT doc_id,
                 CAST(list_sum(list_transform(cc, x -> x.cnt)) AS BIGINT) AS n,
                 list_sum(list_transform(cc, x ->
                   CAST(x.cnt AS DOUBLE)
                     * (log2(CAST(tt.total AS DOUBLE)) - log2(CAST(x.gcnt AS DOUBLE))))) AS s
               FROM l, tt)
         SELECT d.doc_id, CAST(coalesce(f.n, 0) AS BIGINT) AS n_tokens,
           CASE WHEN f.n IS NULL OR f.n <= 0 THEN 0.0
                ELSE round(f.s / f.n, 4) END AS bits_per_token
         FROM documents d LEFT JOIN f ON f.doc_id = d.doc_id
         ORDER BY d.doc_id""",
    "q74_pack_sequences" ->
      """WITH t AS (
           SELECT doc_id,
             CAST(len(regexp_extract_all(trim(text), '\S+')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (
           SELECT doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               - n_tokens AS s
           FROM t)
         SELECT doc_id, n_tokens, s // 1024 AS seq_id, s % 1024 AS seq_offset
         FROM c ORDER BY doc_id""",
    // the q64 component pipeline, finished into the keep-list: drop
    // every clustered doc except the component minimum.
    "q75_dedup_keep" ->
      """WITH RECURSIVE t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'),
                                      x -> len(x) > 0) AS ts
           FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(ts) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct([array_to_string(ts[i:i+4], ' ')
                                      for i in range(1, len(ts)-3)]) END AS s
           FROM t),
         ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id),
         p AS (SELECT c.id_a, c.id_b
               FROM cand c JOIN sh sa ON sa.doc_id = c.id_a
                           JOIN sh sb ON sb.doc_id = c.id_b
               WHERE len(list_intersect(sa.s, sb.s))
                     / CAST(len(sa.s) + len(sb.s)
                            - len(list_intersect(sa.s, sb.s)) AS DOUBLE) >= 0.8),
         e AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
         r(src, dst) AS (SELECT a, b FROM e
                         UNION SELECT r.src, e.b FROM r JOIN e ON r.dst = e.a),
         comps AS (SELECT src AS doc_id, least(src, min(dst)) AS component
                   FROM r GROUP BY src)
         SELECT d.doc_id FROM documents d
         WHERE NOT EXISTS (SELECT 1 FROM comps c
                           WHERE c.doc_id = d.doc_id AND c.component < c.doc_id)
         ORDER BY d.doc_id""",
    "q56_hof_norm" ->
      """SELECT vec_id,
         round(sqrt(list_sum(list_transform(embedding,
           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm,
         CAST(len(embedding) AS INT) AS dim
         FROM embeddings ORDER BY vec_id""",
    // passage-level dedup: replay the non-overlapping 8-token windows,
    // corpus multiplicity, per-doc rollup — integer math, bit-exact.
    "q90_passage_dedup" ->
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'),
                                      x -> len(x) > 0) AS ts
           FROM documents),
         pl AS (
           SELECT doc_id,
             CASE WHEN len(ts) >= 8
                  THEN [array_to_string(ts[i*8+1 : i*8+8], ' ')
                        for i in range(0, len(ts)//8)]
                  ELSE CAST([] AS VARCHAR[]) END AS ps
           FROM t),
         ex AS (SELECT doc_id, unnest(ps) AS p FROM pl),
         oc AS (SELECT doc_id, count(*) OVER (PARTITION BY p) AS occ FROM ex),
         pd AS (SELECT doc_id, count(*) AS n_passages,
                  sum(CASE WHEN occ >= 2 THEN 1 ELSE 0 END) AS n_dup
                FROM oc GROUP BY doc_id)
         SELECT d.doc_id,
           CAST(coalesce(pd.n_passages, 0) AS BIGINT) AS n_passages,
           CAST(coalesce(pd.n_dup, 0) AS BIGINT) AS n_dup,
           CASE WHEN coalesce(pd.n_passages, 0) = 0 THEN 0.0
                ELSE round(pd.n_dup / CAST(pd.n_passages AS DOUBLE), 4)
           END AS dup_fraction
         FROM documents d LEFT JOIN pd USING (doc_id) ORDER BY d.doc_id""",
    // incremental ingest: q19's portable fingerprint, split history vs
    // batch, history-index hit + within-batch first-wins flags.
    "q91_incremental_dedup" ->
      s"""WITH t AS (
           SELECT doc_id, text, list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                            x -> len(x) > 0) AS ts
           FROM documents),
         sh AS (
           SELECT doc_id, text,
             CASE WHEN len(ts) < 3 THEN CAST([] AS VARCHAR[])
                  ELSE [array_to_string(ts[i:i+2], ' ')
                        for i in range(1, len(ts)-1)] END AS s
           FROM t),
         fp AS (
           SELECT doc_id,
             CASE WHEN len(s) = 0 THEN ${graft.functions.PortableHash.sqlH60("trim(text)")}
                  ELSE list_min(list_transform(s, g -> ${graft.functions.PortableHash.sqlH60("g")})) END AS fp
           FROM sh),
         h AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 3 <> 0),
         b AS (SELECT doc_id, fp FROM fp WHERE doc_id % 3 = 0)
         SELECT b.doc_id, b.fp,
           coalesce(b.fp IN (SELECT fp FROM h), FALSE) AS dup_of_history,
           (b.doc_id <> min(b.doc_id) OVER (PARTITION BY b.fp)) AS dup_in_batch
         FROM b ORDER BY b.doc_id""",
    // fixed-weight linear quality gate over the q16/q69 features —
    // every feature pre-rounded to 4 dp, then combined in EXACT
    // DECIMAL (DuckDB parses 0.2/1.2/… literals as DECIMAL natively):
    // every intermediate is a rational with denominator 10^6, so the
    // DECIMAL(18,6) result is bit-identical to Spark's at any scale —
    // no final double rounding to sit on a boundary. The emitted
    // score is that decimal cast to DOUBLE (same correctly-rounded
    // bits in both engines; representation-stable in the driver
    // comparator); keep still compares in exact decimal.
    "q92_quality_classifier" ->
      """WITH f AS (
           SELECT doc_id,
             round(CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|in|that|it|was|for)\b')) AS DOUBLE)
                   / greatest(len(regexp_extract_all(trim(text), '\S+')), 1), 4) AS stop_r,
             round(CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                   / greatest(length(text), 1), 4) AS digit_r,
             round(CAST(len(regexp_extract_all(text, '[A-Z]')) AS DOUBLE)
                   / greatest(length(text), 1), 4) AS upper_r,
             round(CAST(len(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
                   / greatest(len(regexp_extract_all(trim(text), '\S+')), 1), 4) AS mtl
           FROM documents),
         c AS (SELECT doc_id, string_split(text, '') AS cs FROM documents),
         e AS (SELECT doc_id, len(cs) AS n,
                 list_sum(list_transform(list_sort(list_distinct(cs)),
                   ch -> CAST(len(list_filter(cs, x -> x = ch)) AS DOUBLE)
                         * log2(CAST(len(list_filter(cs, x -> x = ch)) AS DOUBLE)))) AS sc
               FROM c),
         ent AS (SELECT doc_id,
                   CASE WHEN n IS NULL OR n <= 0 THEN 0.0
                        ELSE round(log2(CAST(n AS DOUBLE)) - sc / n, 4) END AS entropy
                 FROM e)
         SELECT f.doc_id,
           CAST(CAST(0.2 + 1.2 * CAST(f.stop_r AS DECIMAL(18,4))
                - 2.0 * CAST(f.digit_r AS DECIMAL(18,4))
                - 1.5 * CAST(f.upper_r AS DECIMAL(18,4))
                + 0.02 * CAST(f.mtl AS DECIMAL(18,4))
                + 0.06 * CAST(coalesce(ent.entropy, 0.0) AS DECIMAL(18,4))
             AS DECIMAL(18,6)) AS DOUBLE) AS score,
           (CAST(0.2 + 1.2 * CAST(f.stop_r AS DECIMAL(18,4))
                 - 2.0 * CAST(f.digit_r AS DECIMAL(18,4))
                 - 1.5 * CAST(f.upper_r AS DECIMAL(18,4))
                 + 0.02 * CAST(f.mtl AS DECIMAL(18,4))
                 + 0.06 * CAST(coalesce(ent.entropy, 0.0) AS DECIMAL(18,4))
              AS DECIMAL(18,6)) >= 0.5) AS keep
         FROM f LEFT JOIN ent ON ent.doc_id = f.doc_id
         ORDER BY f.doc_id""",
    // temperature-scaled mix weights: sqrt fold over name-sorted sources.
    "q93_domain_mix" ->
      """WITH c AS (
           SELECT source, count(*) AS n_tokens FROM (
             SELECT source, unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                               x -> len(x) > 0)) AS tok
             FROM documents) GROUP BY source),
         z AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t_total,
                 list_sum(list_transform(
                   list_sort(list(struct_pack(source := source, n_tokens := n_tokens))),
                   x -> sqrt(CAST(x.n_tokens AS DOUBLE)))) AS z
               FROM c)
         SELECT c.source, c.n_tokens,
           round(sqrt(CAST(c.n_tokens AS DOUBLE)) / z.z, 6) AS weight,
           round(sqrt(CAST(c.n_tokens AS DOUBLE)) / z.z
                 * CAST(z.t_total AS DOUBLE) / CAST(c.n_tokens AS DOUBLE), 4) AS epochs
         FROM c, z ORDER BY c.source""",
    // MERGE application replay: same derived change set, same
    // matched/unmatched/delete arbitration.
    "q94_merge_upsert" -> mergeUpsertReplaySql,
    // same change set, same arbitration, applied through the manifest
    // pointer-file commit protocol — which must be invisible to results.
    "q110_merge_manifest" -> mergeUpsertReplaySql,
    // the round trip must preserve values exactly, so the oracle is the
    // same aggregate over the ORIGINAL parquet.
    "q95_orc_roundtrip" ->
      """SELECT source, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM documents WHERE lang = 'en'
         GROUP BY source ORDER BY source""",
    // clustering profile: q50's centroid/assignment replay (k = 8,
    // nearest center by dot desc, lid desc) + exact-decimal cohesion.
    "q96_kmeans_profile" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         en AS (SELECT vec_id,
                  CASE WHEN list_inner_product(v, v) = 0 THEN v
                       ELSE list_transform(v, x -> x / sqrt(list_inner_product(v, v)))
                  END AS nv
                FROM e),
         cent AS (SELECT nv AS cv, CAST(rn - 1 AS INT) AS lid FROM (
                    SELECT nv, row_number() OVER
                      (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
                    FROM en) WHERE rn <= 8),
         asn AS (SELECT item_id, lid, d FROM (
                   SELECT en.vec_id AS item_id, cent.lid,
                     list_inner_product(en.nv, cent.cv) AS d,
                     row_number() OVER (PARTITION BY en.vec_id
                       ORDER BY list_inner_product(en.nv, cent.cv) DESC, cent.lid DESC) AS rn
                   FROM en, cent) WHERE rn = 1),
         g AS (SELECT lid AS cluster_id, count(*) AS n,
                 sum(CAST(round(d, 4) AS DECIMAL(18,6))) AS sd
               FROM asn GROUP BY lid),
         t AS (SELECT sum(n) AS tot FROM g)
         SELECT g.cluster_id, g.n,
           round(g.n / CAST(t.tot AS DOUBLE), 4) AS share,
           round(CAST(g.sd AS DOUBLE) / g.n, 4) AS avg_cos
         FROM g, t ORDER BY g.cluster_id""",
    // md5 hex strings sort identically in both engines (q50 precedent).
    "q97_group_sample" ->
      """SELECT lang, doc_id, rk FROM (
           SELECT lang, doc_id,
             CAST(row_number() OVER (PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rk
           FROM documents) WHERE rk <= 5
         ORDER BY lang, rk""",
    // length-binned packing replay: cap = budget div len (min 1), fill
    // in doc-id order within each length group.
    "q98_pack_binned" ->
      """WITH d AS (
           SELECT doc_id,
             CAST(len(regexp_extract_all(trim(text), '\S+')) AS BIGINT) AS n_tokens
           FROM documents),
         r AS (
           SELECT doc_id, n_tokens,
             greatest(1, 256 // greatest(n_tokens, 1)) AS cap,
             row_number() OVER (PARTITION BY n_tokens ORDER BY doc_id) - 1 AS rn
           FROM d)
         SELECT doc_id, n_tokens,
           CAST(rn // cap AS BIGINT) AS bin_seq,
           CAST(rn % cap AS BIGINT) AS slot
         FROM r ORDER BY doc_id""",
    // portable-hash split replay; share = within-lang fraction. The
    // bucket is hashed ONCE in its own CTE (mirroring the Spark plan's
    // single h60 evaluation) and the CASE branches on it.
    "q99_dataset_split" ->
      s"""WITH bk AS (
           SELECT lang,
             ${graft.functions.PortableHash.sqlH60(
               graft.functions.PortableHash.sqlSaltedKey("doc_id", ""))} % 100 AS bucket
           FROM documents),
         s AS (
           SELECT lang,
             CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'val'
                  ELSE 'test' END AS split
           FROM bk),
         c AS (SELECT lang, split, count(*) AS n_docs FROM s GROUP BY 1, 2)
         SELECT lang, split, n_docs,
           round(n_docs / CAST(sum(n_docs) OVER (PARTITION BY lang) AS DOUBLE), 4) AS share
         FROM c ORDER BY lang, split""",
    // winsorized stats replay: quantile_cont == Spark's interpolated
    // percentile bit-for-bit (q41 precedent), decimal mean exact.
    "q100_winsorize" ->
      """WITH p AS (
           SELECT l_returnflag,
             CAST(quantile_cont(l_extendedprice, 0.01) AS DECIMAL(18,2)) AS p01,
             CAST(quantile_cont(l_extendedprice, 0.99) AS DECIMAL(18,2)) AS p99
           FROM lineitem GROUP BY l_returnflag),
         v AS (SELECT li.l_returnflag,
                 least(greatest(li.l_extendedprice, CAST(p.p01 AS DOUBLE)), CAST(p.p99 AS DOUBLE)) AS v,
                 p.p01, p.p99
               FROM lineitem li JOIN p USING (l_returnflag))
         SELECT l_returnflag, count(*) AS n,
           round(CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS mean_w,
           round(CAST(min(p01) AS DOUBLE), 4) AS p01,
           round(CAST(min(p99) AS DOUBLE), 4) AS p99
         FROM v GROUP BY l_returnflag ORDER BY l_returnflag""",
    // partitioned-MERGE replay: same derived change set, same
    // matched/unmatched/delete arbitration as q94, over documents; the
    // Spark side additionally proves the partition-scoped write/swap
    // round trip (the oracle never touches the snapshot directory).
    "q101_merge_partitioned" ->
      """WITH base AS (SELECT doc_id, text, lang, source, n_chars FROM documents),
         ch AS (
           SELECT doc_id,
             CASE WHEN doc_id % 11 = 0 THEN 'D' ELSE 'U' END AS op,
             text || ' [rev2]' AS text, lang, source, n_chars + 7 AS n_chars
           FROM documents WHERE doc_id % 7 = 0 OR doc_id % 11 = 0
           UNION ALL
           SELECT doc_id + 1000000, 'I', text, 'xx', 'synthetic', n_chars
           FROM documents WHERE doc_id % 13 = 0)
         SELECT coalesce(ch.doc_id, base.doc_id) AS doc_id,
           CASE WHEN ch.op IS NOT NULL THEN ch.lang ELSE base.lang END AS lang,
           CASE WHEN ch.op IS NOT NULL THEN ch.source ELSE base.source END AS source,
           CAST(CASE WHEN ch.op IS NOT NULL THEN ch.n_chars ELSE base.n_chars END AS BIGINT) AS n_chars,
           md5(CASE WHEN ch.op IS NOT NULL THEN ch.text ELSE base.text END) AS text_md5
         FROM base FULL JOIN ch ON base.doc_id = ch.doc_id
         WHERE ch.op IS NULL OR ch.op <> 'D'
         ORDER BY doc_id""",
    // indexed admission replays exactly like q91 — the oracle cannot
    // (and must not) see the materialized index; identical output is
    // the proof the index swap preserved admission semantics.
    "q102_indexed_dedup" ->
      s"""WITH t AS (
           SELECT doc_id, text, list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                            x -> len(x) > 0) AS ts
           FROM documents),
         sh AS (
           SELECT doc_id, text,
             CASE WHEN len(ts) < 3 THEN CAST([] AS VARCHAR[])
                  ELSE [array_to_string(ts[i:i+2], ' ')
                        for i in range(1, len(ts)-1)] END AS s
           FROM t),
         fp AS (
           SELECT doc_id,
             CASE WHEN len(s) = 0 THEN ${graft.functions.PortableHash.sqlH60("trim(text)")}
                  ELSE list_min(list_transform(s, g -> ${graft.functions.PortableHash.sqlH60("g")})) END AS fp
           FROM sh),
         h AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 3 <> 0),
         b AS (SELECT doc_id, fp FROM fp WHERE doc_id % 3 = 0)
         SELECT b.doc_id, b.fp,
           coalesce(b.fp IN (SELECT fp FROM h), FALSE) AS dup_of_history,
           (b.doc_id <> min(b.doc_id) OVER (PARTITION BY b.fp)) AS dup_in_batch
         FROM b ORDER BY b.doc_id""",
    // IVF-PQ replay = the q50 coarse-quantizer CTEs (centroid pick,
    // argmax assignment, top-3 probes) + the q89 PQ CTEs (codebooks,
    // argmin encode, ADC tables) with the ADC scan restricted to the
    // probed lists; both rankings replayed with identical tiebreaks.
    "q103_ann_ivfpq" -> ivfPqReplaySql,
    // the materialized store's build+ADC-search must replay the exact
    // same pipeline — deterministic quantizers, identical ranking.
    "q109_ann_ivf_store" -> ivfPqReplayCalibratedSql,
    // sharded-IVF replay: the q50 replay with a portable-hash shard
    // column threaded through every stage — per-shard md5 centroid
    // picks (PARTITION BY sh), per-shard assignment, per-shard probe
    // ranks (PARTITION BY query, sh), union by construction, one
    // global ranking
    "q132_ann_sharded" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         en AS (SELECT vec_id,
                  CASE WHEN list_inner_product(v, v) = 0 THEN v
                       ELSE list_transform(v, x -> x / sqrt(list_inner_product(v, v)))
                  END AS nv,
                  CAST(${PortableHash.sqlH60("CAST(vec_id AS VARCHAR)")} % 2 AS INT) AS sh
                FROM e),
         cent AS (SELECT sh, nv AS cv, CAST(rn - 1 AS INT) AS lid FROM (
                    SELECT sh, nv, row_number() OVER (PARTITION BY sh
                      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
                    FROM en) WHERE rn <= 4),
         asn AS (SELECT item_id, sh, lid FROM (
                   SELECT en.vec_id AS item_id, en.sh, cent.lid,
                     row_number() OVER (PARTITION BY en.vec_id
                       ORDER BY list_inner_product(en.nv, cent.cv) DESC, cent.lid DESC) AS rn
                   FROM en JOIN cent ON cent.sh = en.sh) WHERE rn = 1),
         qn AS (SELECT vec_id AS query_id, nv AS qv FROM en WHERE vec_id < 10),
         pr AS (SELECT query_id, qv, sh, lid FROM (
                  SELECT qn.query_id, qn.qv, cent.sh, cent.lid,
                    row_number() OVER (PARTITION BY qn.query_id, cent.sh
                      ORDER BY list_inner_product(qn.qv, cent.cv) DESC, cent.lid DESC) AS rn
                  FROM qn, cent) WHERE rn <= 2),
         s AS (SELECT pr.query_id, asn.item_id, list_inner_product(pr.qv, en2.nv) AS cos
               FROM pr JOIN asn ON asn.sh = pr.sh AND asn.lid = pr.lid
                       JOIN en en2 ON en2.vec_id = asn.item_id
               WHERE asn.item_id != pr.query_id),
         r AS (SELECT query_id, item_id, round(cos, 4) AS cos,
                 CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY s.cos DESC, item_id) AS INT) AS rank
               FROM s)
         SELECT query_id, item_id, cos, rank FROM r
         WHERE rank <= 5 ORDER BY query_id, rank""",
    // the bucketed layout must be invisible to results: plain join.
    "q104_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    // seeded split replay: same portable hash over the shared salted-key
    // encoding len(id):id:seed (the prefix pins the id/seed boundary).
    "q105_dataset_split_seeded" ->
      s"""WITH bk AS (
           SELECT lang,
             ${graft.functions.PortableHash.sqlH60(
               graft.functions.PortableHash.sqlSaltedKey("doc_id", "fold2"))} % 100 AS bucket
           FROM documents),
         s AS (
           SELECT lang,
             CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'val'
                  ELSE 'test' END AS split
           FROM bk),
         c AS (SELECT lang, split, count(*) AS n_docs FROM s GROUP BY 1, 2)
         SELECT lang, split, n_docs,
           round(n_docs / CAST(sum(n_docs) OVER (PARTITION BY lang) AS DOUBLE), 4) AS share
         FROM c ORDER BY lang, split""",
    // semantic-dedup replay: the q96 quantizer CTEs (md5-first centroid
    // pick, argmax assignment with the identical d DESC, lid DESC
    // tiebreak) + within-cluster pairwise cosine and the paper's keep
    // policy — farthest-from-centroid (lowest d) wins a dup group, id
    // tiebreak. d compares raw (bit-identical dots, q96 precedent).
    "q106_semantic_dedup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         en AS (SELECT vec_id,
                  CASE WHEN list_inner_product(v, v) = 0 THEN v
                       ELSE list_transform(v, x -> x / sqrt(list_inner_product(v, v)))
                  END AS nv
                FROM e),
         kk AS (SELECT greatest(8, CAST(round(sqrt(count(*))) AS BIGINT)) AS k
                FROM en),
         cent AS (SELECT nv AS cv, CAST(rn - 1 AS INT) AS lid FROM (
                    SELECT nv, row_number() OVER
                      (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
                    FROM en) WHERE rn <= (SELECT k FROM kk)),
         asn AS (SELECT item_id, lid, d FROM (
                   SELECT en.vec_id AS item_id, cent.lid,
                     list_inner_product(en.nv, cent.cv) AS d,
                     row_number() OVER (PARTITION BY en.vec_id
                       ORDER BY list_inner_product(en.nv, cent.cv) DESC, cent.lid DESC) AS rn
                   FROM en, cent) WHERE rn = 1),
         drops AS (SELECT DISTINCT b.item_id AS vec_id
                   FROM asn a JOIN asn b ON a.lid = b.lid
                     AND (a.d < b.d OR (a.d = b.d AND a.item_id < b.item_id))
                   JOIN en ea ON ea.vec_id = a.item_id
                   JOIN en eb ON eb.vec_id = b.item_id
                   WHERE round(list_inner_product(ea.nv, eb.nv), 4) >= 0.95)
         SELECT asn.item_id AS vec_id, asn.lid AS cluster_id,
           (drops.vec_id IS NULL) AS keep
         FROM asn LEFT JOIN drops ON drops.vec_id = asn.item_id
         ORDER BY vec_id""",
    // mixture replay: identical weight literals, identical admission
    // hash (len-prefixed id:salt), floor+fractional-draw copy count,
    // per-copy rows via unnest(range(n)).
    "q107_mixture_sample" ->
      s"""WITH w(source, wt) AS (VALUES
           ${q107Weights.map { case (src, wt) => s"('$src', $wt)" }.mkString(", ")}),
         j AS (SELECT doc_id, d.source, wt,
                 ${operators.Mixing.sqlAdmissionHash("doc_id", "mix1")} AS hb
               FROM documents d JOIN w ON d.source = w.source),
         c AS (SELECT doc_id, source,
                 CAST(floor(wt) AS BIGINT) +
                 CASE WHEN hb < CAST(round((wt - floor(wt)) * 1000000) AS BIGINT)
                      THEN 1 ELSE 0 END AS n
               FROM j)
         SELECT doc_id, source, copy_idx FROM (
           SELECT doc_id, source, unnest(range(n)) AS copy_idx
           FROM c WHERE n > 0)
         ORDER BY doc_id, copy_idx""",
    // trained quantizers are fp-order dependent — the oracle pins the
    // aggregate-recall invariants (the q71 contract), not the rows
    "q108_ann_ivfpq_trained" ->
      """SELECT count(*) AS n_queries, count(*) * 5 AS total_possible,
         TRUE AS recall_ok, TRUE AS trained_not_worse
         FROM embeddings WHERE vec_id < 10"""
  )
}
