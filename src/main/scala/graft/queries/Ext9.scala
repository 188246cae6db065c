package graft.queries

import graft.GraftCaches.TrackedPersist
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables._
import graft.ext.TextOps

/** Round-5 batch 1: the physical-layout pair the earlier rounds proved in
  * specs but never exposed as catalog entries (bucketed zero-shuffle join
  * j12, partition-pruned scan x59), the remaining window shapes (exact
  * dyadic EWMA w21, runtime-quota top-k w22, SCD-2 validity intervals w23),
  * and three training-pipeline operators (deterministic train/val/test
  * split x56, BPE merge learning x60, next-fit sequence packing x61).
  *
  * Determinism rules as everywhere in the catalog (ROUND_NOTES.md): exact
  * decimal sums for doubles; milli/centi-scaled integers for float
  * comparisons; md5-prefix hashes replayed on both engines; every result
  * ordered by a unique key. Two new rules this batch:
  *   - w21 keeps EVERY intermediate exact by using dyadic weights in Q16
  *     fixed point (integer shifts — no float exists anywhere), so the
  *     16-term smoother is bit-stable with NO constraint on sum order;
  *   - x61's oracle replays a genuinely sequential fold with a bounded-depth
  *     recursive CTE (depth = chunk size, one frontier row per chunk per
  *     step), the first catalog use of that oracle technique.
  */
object Ext9 {

  /** Q16 dyadic trailing smoother: sum of the last 16 values weighted
    * 2^-(k+1) for lag k, scaled by 2^16 so every term is an integer shift.
    * Exact at any summation order — there is no rounding to disagree on. */
  private def ewmaQ16(vm: Column, w: org.apache.spark.sql.expressions.WindowSpec): Column =
    (0 to 15).map { k =>
      val term = if (k == 0) vm else coalesce(lag(vm, k).over(w), lit(0L))
      term * lit(1L << (15 - k))
    }.reduce(_ + _)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // J12 BUCKETED ZERO-SHUFFLE JOIN: the catalog entry for the layout
    // story BucketingSpec proves — write both fact tables bucketed+sorted
    // by the join key (at 100 TB that write is the one-time cost of the
    // table's physical design), then every subsequent orders⋈lineitem is
    // a merge join with NO exchange on either side. The projection is cut
    // to the joined/aggregated columns before the write (the bucketed
    // store is a derived layout, not a second copy of the table) and the
    // merge hint keeps the planner off the broadcast path so the bucket
    // layout is what the plan exploits (Ext9Spec pins no Exchange).
    "j12_bucketed_join" -> ((s, d) => bucketedJoin(s, d)),

    // W21 EXACT TRAILING EWMA (dyadic, Q16 fixed point): the online
    // smoother every metrics pipeline wants, made bit-portable by
    // truncating the exponential tail at 16 lags and using α = 1/2 — the
    // weights become 2^-(k+1), the Q16-scaled terms become integer SHIFTS,
    // and the whole smoother is exact integer arithmetic on both engines
    // (no float, no pow, no summation-order hazard — the no-`pow` oracle
    // rule that blocked a float EWMA is moot in fixed point). One shuffle
    // on user_id serves the trailing window and the rollup.
    "w21_ewma" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tus"), col("event_id"))
      val wDesc = Window.partitionBy(col("user_id"))
        .orderBy(col("tus").desc, col("event_id").desc)
      events(s, d)
        .select(col("user_id"), col("event_id"),
          expr("ts_ns div 1000").as("tus"),
          floor(col("value") * 1000.0).cast("long").as("vm"))
        .withColumn("ewma_q16", ewmaQ16(col("vm"), w))
        .withColumn("rnd", row_number().over(wDesc))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          max(when(col("rnd") === 1, col("ewma_q16"))).as("last_q16"),
          max(col("ewma_q16")).as("max_q16"))
        .orderBy(col("user_id"))
    }),

    // W22 RUNTIME-QUOTA TOP-K: per-key top-k where k is COMPUTED FROM THE
    // DATA at runtime (each nation's quota ∝ its share of the customer
    // base, floor at 1) — the shape TopKPerKey's plan-time k cannot
    // express. The quota frame is group-count sized (broadcast), the rank
    // is one window on the nation key, and the integer quota rule
    // (cnt·100 div total) is bit-stable on both engines.
    "w22_quota_topk" -> ((s, d) => {
      val c = customer(s, d).select(col("c_custkey"), col("c_nationkey"),
        floor(col("c_acctbal") * 100.0).cast("long").as("cents"))
      val total = c.agg(count(lit(1)).as("total"))
      val quota = c.groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(total))
        .select(col("c_nationkey"),
          greatest(lit(1L), expr("cnt * 100 div total")).as("quota"))
      val ranked = c.withColumn("rnk", row_number().over(
        Window.partitionBy(col("c_nationkey"))
          .orderBy(col("cents").desc, col("c_custkey"))).cast("long"))
      ranked.join(broadcast(quota), "c_nationkey")
        .filter(col("rnk") <= col("quota"))
        .join(broadcast(nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("rnk"), col("c_custkey"), col("cents"),
          col("quota"))
        .orderBy(col("n_name"), col("rnk"))
    }),

    // W23 SCD-2 VALIDITY INTERVALS: collapse each user's event-type stream
    // into change segments with [valid_from, valid_to) bounds and version
    // numbers — the slowly-changing-dimension build every warehouse runs.
    // Change flags come from lag, versions from a running sum of flags,
    // bounds from lead over the segment frame; all three windows and the
    // rollup share the single user_id shuffle. Times are exact integer
    // micros (ns div 1000 = DuckDB's epoch_us on the same column).
    "w23_scd2" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tus"), col("event_id"))
      val e = events(s, d).select(col("user_id"), col("event_id"),
        expr("ts_ns div 1000").as("tus"), col("event_type"))
        .withColumn("chg",
          when(lag(col("event_type"), 1).over(w).isNull ||
            lag(col("event_type"), 1).over(w) =!= col("event_type"), 1L)
            .otherwise(0L))
        .withColumn("version", sum(col("chg")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val seg = e.groupBy(col("user_id"), col("version"))
        .agg(min(col("event_type")).as("event_type"),
          min(col("tus")).as("valid_from"),
          count(lit(1)).as("n_rows"))
      seg.withColumn("valid_to", lead(col("valid_from"), 1).over(
          Window.partitionBy(col("user_id")).orderBy(col("version"))))
        .select(col("user_id"), col("version"), col("event_type"),
          col("valid_from"), col("valid_to"), col("n_rows"))
        .orderBy(col("user_id"), col("version"))
    }),

    // X4w DETERMINISTIC TRAIN/VAL/TEST SPLIT: the 80/10/10 split every
    // training pipeline runs, keyed on a salted md5 hash of the doc id so
    // membership is a pure function of the id — stable across reruns,
    // reshards, and engines (the oracle replays the same digest). No
    // shuffle before the rollup; the split column is a per-row expression.
    "x56_train_split" -> ((s, d) => {
      val h = pmod(TextOps.hash32(
        concat(lit("split:"), col("doc_id").cast("string"))), lit(100))
      documents(s, d)
        .select(col("source"),
          when(h < 80, "train").when(h < 90, "val").otherwise("test")
            .as("split"),
          size(TextOps.words(col("text"))).cast("long").as("t"))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("sum_tokens"))
        .orderBy(col("source"), col("split"))
    }),

    // X59 PARTITION-PRUNED SCAN: the layout half of predicate pushdown —
    // write the events narrow projection PARTITIONED BY event_type (the
    // hive-style directory layout a 100 TB store would use for its
    // coarse-grained filter column), then read back with a partition
    // predicate. The scan lists ONE directory; Ext9Spec pins the
    // PartitionFilters entry in the FileSourceScan. The rewrite-per-call
    // is the catalog-entry cost of demonstrating a table's physical
    // design, same as j12.
    "x59_partition_prune" -> ((s, d) => {
      // scratch location derived from the session warehouse (as j12 does)
      // rather than a baked-in absolute path, so any checkout location /
      // concurrent session with its own warehouse works
      val wh = new java.net.URI(s.conf.get("spark.sql.warehouse.dir"))
      val dir = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(wh), "graft_x59_events").toString
      events(s, d)
        .select(col("user_id"), col("event_id"),
          floor(col("value") * 1000.0).cast("long").as("vm"),
          col("event_type"))
        .write.partitionBy("event_type").mode("overwrite").parquet(dir)
      s.read.parquet(dir)
        .filter(col("event_type") === "purchase")
        .groupBy(pmod(col("user_id"), lit(10)).as("user_bucket"))
        .agg(count(lit(1)).as("n"), sum(col("vm")).as("sum_vm"))
        .orderBy(col("user_bucket"))
    }),

    // X4x BPE MERGE LEARNING: the first R merges of byte-pair encoding
    // over the corpus vocabulary — the tokenizer-training step of every
    // LLM data pipeline. The corpus-scale work is ONE partial-aggregable
    // word count; every iteration after that runs on the vocabulary
    // (thousands of rows at any corpus size), with one driver-side argmax
    // per round (count desc, pair lexicographic — deterministic). Pair
    // statistics count overlapping adjacencies (standard BPE); the merge
    // application is a greedy left-to-right non-overlapping fold, spelled
    // as an aggregate HOF over the symbol array. ORACLE-VERIFIED since
    // round 6: the fixed round count unrolls into 6 CTE blocks, and
    // DuckDB's replace() is left-to-right non-overlapping — exactly the
    // merge fold — once symbols live in a space-delimited string with a
    // LEADING separator (pattern ' l r' → ' lr'; the trailing separator
    // must NOT be in the pattern or adjacent occurrences eat each
    // other's boundary). Ext9Spec still pins the fold on hand corpora.
    "x60_bpe_merges" -> ((s, d) => bpeMerges(documents(s, d), 6)),

    // X61 NEXT-FIT SEQUENCE PACKING: pack documents into fixed-capacity
    // token bins (budget 200) in id order, a doc never straddling bins —
    // the sequence-packing step that precedes writing training examples.
    // A global greedy pack is inherently sequential, so the DISTRIBUTED
    // CONTRACT resets packing every 64 docs (chunk = id div 64): chunks
    // pack independently and in parallel (per-chunk fold over a sorted
    // 64-element array — bounded state, no shuffle beyond the chunk
    // groupBy), and bin ids compose as chunk·64 + local bin (≤ 64 bins
    // per chunk, so ids never collide). The oracle replays the exact fold
    // with a depth-64 recursive CTE stepping one doc per chunk per round.
    "x61_seq_pack" -> ((s, d) => {
      val budget = 200L
      val outType = "array<struct<doc_id:bigint,t:bigint,bin:bigint>>"
      val docs = documents(s, d).select(col("doc_id"),
        expr("doc_id div 64").as("chunk"),
        size(TextOps.words(col("text"))).cast("long").as("t"))
      val packed = docs
        .groupBy(col("chunk"))
        .agg(sort_array(collect_list(struct(col("doc_id"), col("t"))))
          .as("lst"))
        .withColumn("p", explode(aggregate(
          col("lst"),
          struct(lit(0L).as("fill"), lit(0L).as("bin"),
            array().cast(outType).as("out")),
          (acc, x) => {
            val fill = acc.getField("fill")
            val bin = acc.getField("bin")
            val out = acc.getField("out")
            val id = x.getField("doc_id")
            val t = x.getField("t")
            val fits = fill > 0 && fill + t <= budget
            val nbin = when(fill === 0, bin).otherwise(bin + 1)
            when(fits, struct((fill + t).as("fill"), bin.as("bin"),
              concat(out, array(struct(id.as("doc_id"), t.as("t"),
                bin.as("bin")))).as("out")))
            .otherwise(struct(t.as("fill"), nbin.as("bin"),
              concat(out, array(struct(id.as("doc_id"), t.as("t"),
                nbin.as("bin")))).as("out")))
          },
          acc => acc.getField("out"))))
      packed.select(col("p.doc_id").as("doc_id"),
          col("p.t").as("n_tokens"),
          (col("chunk") * 64 + col("p.bin")).as("bin_id"))
        .orderBy(col("doc_id"))
    }))

  /** BPE merge learning (x60). Corpus-scale work is the single word-count
    * shuffle; iterations run on the vocabulary frame. Returns one row per
    * learned merge: (round, left, right, pair_freq), pair_freq being the
    * pre-merge adjacency count that selected the pair. */
  def bpeMerges(docsDf: DataFrame, rounds: Int): DataFrame = {
    val spark = docsDf.sparkSession
    import spark.implicits._
    val (merges, vocab) = bpeLoop(docsDf, rounds)
    vocab.unpersist(blocking = false)
    merges.toDF("round", "left", "right", "pair_freq")
  }

  /** The tokenizer's ENCODE step (x63): learn `rounds` merges, then encode
    * the corpus against the final vocabulary — per doc, word count and
    * post-merge symbol count. The encode itself is vocab-bounded (distinct
    * words carry their symbol arrays through the merge folds), so the only
    * corpus-scale work after learning is one broadcast join of the word →
    * symbol-count table back onto the exploded corpus. */
  def bpeEncode(docsDf: DataFrame, rounds: Int): DataFrame = {
    val (_, vocab) = bpeLoop(docsDf, rounds)
    // vocab stays persisted until the harness cache sweep (the result is
    // lazy — unpersisting here would force recomputation at action time)
    val wordLen = vocab.select(col("word"),
      size(col("sym")).cast("long").as("n_sym"))
    docsDf.select(col("doc_id"), explode(TextOps.words(col("text"))).as("word"))
      .join(broadcast(wordLen), "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sym")).as("n_symbols"))
      .orderBy(col("doc_id"))
  }

  /** Session-scoped memo of learned merges, keyed by the canonicalized
    * corpus plan + round count. x60 (learn) and x63 (encode) share the same
    * 6-round loop; without the memo each catalog run pays the ~12 driver
    * jobs twice. On a hit the final vocab is REBUILT LAZILY by replaying
    * the memoized merges as fold expressions — zero driver jobs; the
    * vocab-size recompute folds into the caller's one action. */
  private val bpeMemo = new java.util.concurrent.ConcurrentHashMap[
    (Int, Int), Seq[(Int, String, String, Long)]]()

  /** The base vocabulary frame: (word, freq, sym = chars of word). */
  private def baseVocab(docsDf: DataFrame): DataFrame = docsDf
    .select(explode(TextOps.words(col("text"))).as("word"))
    .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    .select(col("word"), col("freq"),
      expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))")
        .as("sym"))

  /** One merge application: greedy left-to-right non-overlapping replace of
    * the adjacent pair (l, r) by their concatenation, as a fold over sym. */
  private def mergeFold(vocab: DataFrame, l: String, rr: String): DataFrame =
    vocab.select(col("word"), col("freq"),
      aggregate(col("sym"), array().cast("array<string>"),
        (acc, x) =>
          when(size(acc) > 0 && element_at(acc, -1) === lit(l) &&
              x === lit(rr),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + rr))))
          .otherwise(concat(acc, array(x)))).as("sym"))

  /** Shared BPE loop: word-count shuffle once, then vocab-frame rounds with
    * one driver-side argmax each. Returns the learned merges and the FINAL
    * vocab frame (word, freq, sym) — still persisted; callers unpersist or
    * leave it to the harness sweep. */
  private def bpeLoop(docsDf: DataFrame, rounds: Int)
    : (Seq[(Int, String, String, Long)], DataFrame) = {
    val key = (docsDf.queryExecution.logical.canonicalized.semanticHash(),
      rounds)
    val hit = bpeMemo.get(key)
    if (hit != null) {
      var vocab = baseVocab(docsDf)
      for ((_, l, rr, _) <- hit) vocab = mergeFold(vocab, l, rr)
      return (hit, vocab)
    }
    var vocab = baseVocab(docsDf).persistTracked()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      // slice-then-index (not sequence(1, n-1)): sequence descends when
      // start > stop, so a 1-symbol word would fabricate a null pair
      val best = vocab
        .select(col("freq"), explode(expr(
          "transform(slice(sym, 1, size(sym) - 1), (x, i) -> struct(x AS l, sym[i+1] AS r))"))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, rr, cnt) = (best(0).getString(0), best(0).getString(1),
          best(0).getLong(2))
        merges += ((r, l, rr, cnt))
        val next = mergeFold(vocab, l, rr).persistTracked()
        // materialize before dropping the parent so lineage never
        // re-executes a freed cache
        next.count()
        vocab.unpersist(blocking = false)
        vocab = next
        r += 1
      }
    }
    bpeMemo.put(key, merges.toSeq)
    (merges.toSeq, vocab)
  }

  private val lag16Terms: String = (1 to 15).map { k =>
    s"coalesce(lag(vm, $k) OVER w, 0) * ${1L << (15 - k)}"
  }.mkString(" + ")

  /** The BPE vocab-state CTE chain: v0 = char-split vocabulary (symbols
    * as a space-delimited string with a leading separator AND a chr(1)
    * terminator after every symbol — ' a␁ b␁'), then per round:
    * adjacency pair counts (weighted by word freq), the argmax (count
    * desc, pair lexicographic — the engine's exact tie-break), and the
    * merge via replace(' l␁ r␁' → ' lr␁'), whose left-to-right
    * non-overlapping scan IS the greedy merge fold.
    *
    * Why both delimiters: the leading space anchors each symbol's START
    * (and, crucially, the replacement does NOT consume the next symbol's
    * separator, so consecutive overlapping merge sites all fire — the
    * trailing-space spelling ' l r ' → ' lr ' eats the separator and
    * skips every second site of an ' a b a b' chain). The chr(1)
    * terminator anchors each symbol's END: without it, pattern ' c a'
    * also matches ' c ab…', falsely collapsing [c, ab] whenever a merge's
    * right symbol is a proper prefix of the adjacent symbol (diverging
    * from the engine's whole-symbol mergeFold on natural text after
    * round ~2). chr(1) never occurs in the space-split word symbols of
    * any shipped corpus, so it is collision-free as a terminator. */
  private def bpeVocabCtes(rounds: Int): String = {
    val base =
      """v0 AS (
        |  SELECT word, count(*) AS freq,
        |    array_to_string(list_transform(range(1, len(word)+1),
        |      i -> ' ' || word[i] || chr(1)), '') AS symstr
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  GROUP BY word)""".stripMargin
    val rnds = (1 to rounds).map { r =>
      s"""p$r AS (
         |  SELECT replace(s[CAST(i AS INT)], chr(1), '') AS l,
         |    replace(s[CAST(i+1 AS INT)], chr(1), '') AS r,
         |    CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq, string_split(substr(symstr, 2), ' ') AS s
         |        FROM v${r - 1}),
         |       unnest(range(1, len(s))) AS t(i)
         |  GROUP BY 1, 2),
         |b$r AS (SELECT l, r, cnt FROM p$r ORDER BY cnt DESC, l, r LIMIT 1),
         |v$r AS (SELECT word, freq,
         |    replace(symstr, ' ' || b$r.l || chr(1) || ' ' || b$r.r || chr(1),
         |      ' ' || b$r.l || b$r.r || chr(1)) AS symstr
         |  FROM v${r - 1} CROSS JOIN b$r)""".stripMargin
    }
    (base +: rnds).mkString(",\n")
  }

  /** j12's body. DROP TABLE alone is not enough: the in-memory catalog
    * forgets tables across JVMs while the warehouse directory survives,
    * and saveAsTable refuses a managed-table location that already
    * exists. Round 14 (optimization, guide §2.6): the two independent
    * physical-design writes are submitted from two driver threads so
    * the second back-fills the first one's tail. At sf0.1 this measured
    * a WASH against serial writes (1.90 vs 1.86 s min-of-3 same-boot,
    * BENCH_AB_r14_misc.json — the local-FS writes already saturate the
    * slots); kept because on a real cluster each write's commit tail
    * idles executors (guide §2.6) and the overlap costs nothing here.
    * Tables, layout, result frame and oracle unchanged. */
  private def bucketedJoin(s: SparkSession, d: String): DataFrame = {
    val tWrite0 = System.nanoTime()
    for (t <- Seq("graft_j12_orders_b", "graft_j12_lineitem_b")) {
      s.sql(s"DROP TABLE IF EXISTS $t")
      val wh = new java.net.URI(s.conf.get("spark.sql.warehouse.dir"))
      val loc = new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(wh), t)
      loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    def writeOrders(): Unit =
      orders(s, d).select(col("o_orderkey"), col("o_orderstatus"))
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("graft_j12_orders_b")
    def writeLineitem(): Unit =
      lineitem(s, d).select(col("l_orderkey"), col("l_extendedprice"))
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("graft_j12_lineitem_b")
    Seq(Future(writeOrders()), Future(writeLineitem()))
      .foreach(Await.result(_, Duration.Inf))
    // record the physical-design phase so the bench can report the
    // zero-exchange SMJ separately from the one-time table write the
    // entry (honestly, but misleadingly) folds into its wall time —
    // §8.3 / VERDICT r12 #3; result frame and oracle unchanged
    graft.BenchPhases.record("j12_bucketed_join",
      Map("physical_design_write_sec" -> (System.nanoTime() - tWrite0) / 1e9))
    s.table("graft_j12_orders_b").hint("merge")
      .join(s.table("graft_j12_lineitem_b"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  val oracleSql: Map[String, String] = Map(

    "x60_bpe_merges" -> {
      val rows = (1 to 6).map(r =>
        if (r == 1) s"SELECT CAST(1 AS INT) AS round, l AS left, r AS right, cnt AS pair_freq FROM b1"
        else s"SELECT $r, l, r, cnt FROM b$r").mkString("\n|  UNION ALL ")
      s"""WITH ${bpeVocabCtes(6)}
        |SELECT * FROM (
        |  $rows)
        |ORDER BY round""".stripMargin
    },

    "x63_bpe_encode" ->
      s"""WITH ${bpeVocabCtes(6)},
        |wl AS (SELECT word,
        |    CAST(len(string_split(substr(symstr, 2), ' ')) AS BIGINT) AS n_sym
        |  FROM v6),
        |dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |  FROM documents)
        |SELECT doc_id, count(*) AS n_words, CAST(sum(n_sym) AS BIGINT) AS n_symbols
        |FROM dw JOIN wl USING (word)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "j12_bucketed_join" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "w21_ewma" ->
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus,
        |    CAST(floor(value * 1000.0) AS BIGINT) AS vm FROM events),
        |t AS (SELECT user_id, event_id, tus,
        |    vm * 32768 + $lag16Terms AS ewma_q16
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |r AS (SELECT user_id, ewma_q16,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY tus DESC, event_id DESC) AS rnd
        |  FROM t)
        |SELECT user_id, count(*) AS n_events,
        |  max(CASE WHEN rnd = 1 THEN ewma_q16 END) AS last_q16,
        |  max(ewma_q16) AS max_q16
        |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin,

    "w22_quota_topk" ->
      """WITH c AS (SELECT c_custkey, c_nationkey,
        |    CAST(floor(c_acctbal * 100.0) AS BIGINT) AS cents FROM customer),
        |q AS (SELECT c_nationkey,
        |    greatest(CAST(1 AS BIGINT), count(*) * 100 //
        |      (SELECT count(*) FROM c)) AS quota
        |  FROM c GROUP BY c_nationkey),
        |r AS (SELECT c_custkey, c_nationkey, cents,
        |    CAST(row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY cents DESC, c_custkey) AS BIGINT) AS rnk
        |  FROM c)
        |SELECT n_name, rnk, c_custkey, cents, quota
        |FROM r JOIN q USING (c_nationkey)
        |  JOIN nation ON c_nationkey = n_nationkey
        |WHERE rnk <= quota
        |ORDER BY n_name, rnk""".stripMargin,

    "w23_scd2" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus,
        |    event_type FROM events),
        |c AS (SELECT user_id, event_id, tus, event_type,
        |    CASE WHEN lag(event_type, 1) OVER w IS NULL
        |      OR lag(event_type, 1) OVER w <> event_type
        |      THEN 1 ELSE 0 END AS chg
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |v AS (SELECT user_id, event_id, tus, event_type,
        |    CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS version
        |  FROM c),
        |seg AS (SELECT user_id, version, min(event_type) AS event_type,
        |    min(tus) AS valid_from, count(*) AS n_rows
        |  FROM v GROUP BY user_id, version)
        |SELECT user_id, version, event_type, valid_from,
        |  lead(valid_from, 1) OVER (PARTITION BY user_id ORDER BY version)
        |    AS valid_to,
        |  n_rows
        |FROM seg ORDER BY user_id, version""".stripMargin,

    "x56_train_split" ->
      """WITH d AS (SELECT source,
        |    CAST(concat('0x', substr(md5('split:' || CAST(doc_id AS VARCHAR)),
        |      1, 8)) AS BIGINT) % 100 AS h,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS t
        |  FROM documents)
        |SELECT source,
        |  CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val'
        |    ELSE 'test' END AS split,
        |  count(*) AS n_docs, CAST(sum(t) AS BIGINT) AS sum_tokens
        |FROM d GROUP BY 1, 2 ORDER BY source, split""".stripMargin,

    // the layout rewrite is transparent to the result: the oracle filters
    // the raw table directly
    "x59_partition_prune" ->
      """SELECT user_id % 10 AS user_bucket, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 1000.0) AS BIGINT)) AS BIGINT) AS sum_vm
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY user_bucket""".stripMargin,

    // the recursive CTE steps one doc per chunk per round (depth = chunk
    // size 64), replaying the engine's per-chunk next-fit fold exactly
    "x61_seq_pack" ->
      """WITH RECURSIVE d AS (SELECT doc_id, doc_id // 64 AS chunk,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS t,
        |    CAST(row_number() OVER (PARTITION BY doc_id // 64
        |      ORDER BY doc_id) AS BIGINT) AS rn
        |  FROM documents),
        |st AS (
        |  SELECT chunk, rn, doc_id, t, t AS fill, CAST(0 AS BIGINT) AS bin
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.chunk, d.rn, d.doc_id, d.t,
        |    CASE WHEN st.fill + d.t <= 200 THEN st.fill + d.t ELSE d.t END,
        |    CASE WHEN st.fill + d.t <= 200 THEN st.bin ELSE st.bin + 1 END
        |  FROM st JOIN d ON d.chunk = st.chunk AND d.rn = st.rn + 1)
        |SELECT doc_id, t AS n_tokens, chunk * 64 + bin AS bin_id
        |FROM st ORDER BY doc_id""".stripMargin)
}
