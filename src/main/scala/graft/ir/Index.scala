package graft.ir

import graft.text.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.util.Try

/** Materialized doc-vector index (SURVEY §3.3: the HBase stack
  * `IndexTrecToHBase → CollectionStatsHBase → RunQueryHBase` becomes
  * a Parquet table + DataFrame joins).
  *
  * Schema: (doc_id, dv: Map[term→tf], len) — the reference's
  * Java-serialized `FeatureVector` becomes a typed MapType column
  * (`IndexTrecToHBase.java:106-146`); HBase point-Gets become joins.
  *
  * Scale: the index write is one tokenize+aggregate pass; retrieval
  * from the index skips re-tokenization entirely (explode of the map
  * column is cheaper than regex-splitting raw text and prunes to the
  * `dv` column at the parquet scan). The write's `buckets` knob is a
  * FILE-SIZING control only (review r19, correcting an over-claim):
  * `repartition(buckets, doc_id)` shapes file count and contents, but
  * plain parquet stores no bucketing metadata — a reader's joins on
  * doc_id still shuffle. Co-located joins at 100 TB need a
  * metastore-backed `bucketBy(...).sortBy(...).saveAsTable` layout
  * (catalog-dependent; out of scope for a path-addressed library).
  */
object Index {

  /** Build the doc-vector table from (doc_id, text) docs. */
  def buildDocVectors(docs: DataFrame): DataFrame =
    TextOps.termFreqs(docs)
      .groupBy("doc_id")
      .agg(
        map_from_entries(collect_list(struct(col("term"), col("tf")))).as("dv"),
        sum("tf").as("len"))

  def write(docs: DataFrame, path: String, buckets: Int = 32): Unit =
    buildDocVectors(docs)
      .repartition(buckets, col("doc_id"))
      .write.mode("overwrite").parquet(path)

  def load(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Per-term collection stats straight from the index
    * (CollectionStatsHBase re-explode, `CollectionStatsHBase.java:45-70`).
    */
  def termStats(dv: DataFrame): DataFrame =
    dv.select(explode(col("dv")).as(Seq("term", "tf")))
      .groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").as("cf"))

  private val IxSlices = 4096L

  /** Inverted postings layout, one parquet table under `path/postings`:
    *
    *   (term, [shard,] postings: array<struct<doc_id, tf, dl>>,
    *    df, cf, n_docs, n_tokens)
    *
    * Each posting carries its document's length `dl`; each row carries
    * the TERM-level `df`/`cf` and the COLLECTION-level `n_docs`/
    * `n_tokens`. A row is therefore everything a scoring model reads
    * about its term, and a topic is one filtered scan of its own terms'
    * rows: no doc-length table, no collection aggregate, no join. This
    * is the SELECTIVE-query scale path the doc-vector layout can't
    * offer: because the postings file is term-sorted, the literal
    * `term IN (...)` predicate prunes parquet row groups at the scan
    * (`PushedFilters`, asserted in IndexSpec) — the Spark analog of an
    * HBase point-Get per term (SURVEY §3.3), without the RPC.
    *
    * This builds the relation from a (doc_id, term, tf, dl) frame
    * ([[withDocLen]]) minus the collection columns, which
    * [[writeInverted]] attaches.
    *
    * maxPostings=0: one row per term (the compact default). >0: split
    * each term's postings into doc_id-ordered SHARDS of at most
    * maxPostings entries — the 100 TB pressure valve for head-term
    * skew (IndexScaleProbe measured a 1.96M-struct array in ONE row
    * at 2.5M docs; at 1000× that row is a task-killer, both to build
    * and to explode at query time). Since r18 the shard rank is
    * SLICE-DISTRIBUTED (see the inline note): no stage anywhere
    * funnels one term's full postings through a single task, and the
    * rank arithmetic is long — the r17 shape's per-term windows hit
    * row_number's int ceiling at 2^31 postings per term, below the
    * layout's own design point. Per-group state stays bounded: each
    * (term, shard) collect_list buffer — which cannot spill
    * mid-group — holds ≤ maxPostings structs. Every shard row carries
    * the same term- and collection-level stats, so [[scoreFromInverted]]
    * reads both layouts unchanged (explode unions shards — equivalence
    * asserted in IndexSpec, plan shape in PlanShapeSpec). Re-measured
    * r18 at 2.5M docs (IndexScaleProbe, probes/index_scale500_r18.log):
    * see BENCH_NOTES §3g addendum. `IxSlices`, the slices per term in
    * the sharded build, is fixed (NOT a partition count) so the slice
    * id is a stable function of doc_id.
    */
  private[graft] def postingsFrame(tf: DataFrame,
                                   maxPostings: Int): DataFrame =
    if (maxPostings > 0) {
      import org.apache.spark.sql.expressions.Window
      // Distributed shard rank (review r18). The old shape — df/cf
      // windows + row_number over (PARTITION BY term ORDER BY
      // doc_id) — funneled each term's FULL postings through one
      // task, and row_number's int counter overflows past 2^31
      // postings for a head term: at the layout's own 100 TB design
      // point that is an ANSI arithmetic error (or, non-ANSI,
      // negative shard ids and a mis-sharded index) in the one
      // layout documented to survive head-term skew. Slice-rank +
      // offset instead, with the slice id a PURE HASH of doc_id:
      //  - deterministic per row, so the twice-referenced frame needs
      //    no checkpoint/persist for alignment (an IndexScaleProbe
      //    A/B of the range-partitioned variant paid a corpus-sized
      //    localCheckpoint write+read — ~2x build time at 2.5M docs)
      //    and the WRITTEN layout is byte-stable across runs;
      //  - a head term spreads over all IxSlices slices (~df/4096
      //    rows per local-rank group: int-safe and sort-spill-bounded
      //    up to ~2^42 postings per term);
      //  - per-slice counts/offsets are tiny (≤ IxSlices rows per
      //    term) and term stats ride them, so no second corpus
      //    aggregation. Long arithmetic end to end. Shards are no
      //    longer doc_id-contiguous GLOBALLY (they are within a
      //    slice) — a layout detail: consumers explode and union
      //    shards, arrays stay sorted within each shard, and
      //    IndexSpec's scan-path equivalence pins the semantics.
      // the slice id is computed ONCE (review r19): the offset join's
      // alignment rests on both sides deriving the IDENTICAL slice of
      // each row — one `sliced` frame makes that invariant structural
      // instead of two textually-duplicated expressions
      val sliced = tf.withColumn("_ix_sl",
        pmod(xxhash64(col("doc_id")), lit(IxSlices)))
      val offs = sliced
        .groupBy(col("term").as("_ix_t"), col("_ix_sl").as("_ix_p"))
        .agg(count(lit(1)).as("_ix_c"), sum("tf").as("_ix_cfp"))
        .withColumn("_ix_off", coalesce(sum("_ix_c").over(
          Window.partitionBy("_ix_t").orderBy("_ix_p")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("df",
          sum("_ix_c").over(Window.partitionBy("_ix_t")))
        .withColumn("cf",
          sum("_ix_cfp").over(Window.partitionBy("_ix_t")))
        .select("_ix_t", "_ix_p", "_ix_off", "df", "cf")
      sliced
        .join(offs, col("term") === col("_ix_t") &&
          col("_ix_sl") === col("_ix_p"))
        .withColumn("_ix_lrk", row_number().over(
          Window.partitionBy("term", "_ix_sl").orderBy("doc_id"))
          .cast("bigint"))
        .withColumn("shard", expr(
          s"CAST((_ix_lrk + _ix_off - 1) div CAST($maxPostings AS BIGINT)" +
            " AS INT)"))
        .groupBy("term", "shard", "df", "cf")
        .agg(sort_array(collect_list(posting)).as("postings"))
        .select("term", "shard", "postings", "df", "cf")
    } else {
      tf.groupBy("term")
        .agg(sort_array(collect_list(posting)).as("postings"),
          count(lit(1)).as("df"), sum("tf").as("cf"))
    }

  private def posting = struct(col("doc_id"), col("tf"), col("dl"))

  /** (doc_id, term, tf) → (doc_id, term, tf, dl), dl = Σ tf per doc —
    * the scan path's doc length (`Retrieval.matchedTermsFromTf`), as a
    * per-doc aggregate joined back: a window over doc_id would be a
    * non-slice window over corpus rows in the sharded build.
    */
  private[graft] def withDocLen(tf: DataFrame): DataFrame =
    tf.join(tf.groupBy("doc_id").agg(sum("tf").as("dl")), "doc_id")

  /** Default postings-row bound: the sharded layout measured BETTER on
    * build time, scoring time, AND peak memory at 2.5M docs
    * (BENCH_NOTES §3g: 35.5 s vs 41.8 s build, 9.9 s vs 14–21 s
    * scoring, 10.8 GB vs 18+ GB heap), and it is the only layout that
    * survives head-term skew at corpus scale — so it is the DEFAULT
    * (r11; compact was). Pass maxPostings = 0 for the compact
    * single-row-per-term layout, appropriate only for small corpora
    * where the one extra exchange outweighs skew risk.
    */
  val DefaultMaxPostings: Int = 65536

  def writeInverted(docs: DataFrame, path: String, files: Int = 0,
                    maxPostings: Int = DefaultMaxPostings): Unit = {
    // persist both stages: the tokenize subtree feeds the postings,
    // the doc lengths and the collection stats, and the postings feed
    // TWO actions (the range partitioner's boundary-sampling job and
    // the write) — uncached, the corpus would be tokenized once per
    // consumer and action (the repo's no-repeated-tokenize rule applies
    // across actions exactly like curateCorpus/spamFilter)
    val tf = TextOps.termFreqs(docs).persist()
    val agged = postingsFrame(withDocLen(tf), maxPostings)
      .crossJoin(broadcast(Retrieval.collectionStats(tf)))
      .persist()
    // Term-sorted row groups WITHOUT a single-task funnel: range
    // partitioning keeps global term order across files (file k's
    // terms all precede file k+1's), sortWithinPartitions orders
    // inside each, so parquet min/max row-group pruning on `term IN`
    // still applies — and the write parallelizes. (Round 2 used
    // repartition(1): the whole postings table through one task is a
    // driver-adjacent bottleneck at corpus vocabulary scale.)
    // files=0 → spark.sql.shuffle.partitions, AQE-coalescible.
    try {
      val ranged =
        if (files > 0) agged.repartitionByRange(files, col("term"))
        else agged.repartitionByRange(col("term"))
      val sortCols =
        if (maxPostings > 0) Seq("term", "shard") else Seq("term")
      ranged.sortWithinPartitions(sortCols.map(col): _*)
        .write.mode("overwrite").parquet(s"$path/postings")
    } finally { agged.unpersist(); tf.unpersist(); () }
  }

  /** Retrieval from the inverted layout: ONE filtered scan of the
    * topic's own postings rows, which carry every scoring stat. The
    * query set is driver material (topics files are tiny): its rows
    * are collected once and become LITERALS — the `term IN (...)`
    * predicate, which lets the parquet reader prune (a join could not
    * push down), and a term → (query row, qlen) map each postings row
    * explodes against. No query-side frame is joined, broadcast or
    * shuffled; the only exchanges are the scorer's group and top-k.
    */
  def scoreFromInverted(spark: SparkSession, path: String, q: DataFrame,
                        partExpr: String, finalExpr: String,
                        conjunctive: Boolean, k: Int): DataFrame = {
    val post = spark.read.parquet(s"$path/postings")
    require(Try(post.select("postings.dl", "n_docs", "n_tokens")).isSuccess,
      s"$path/postings lacks the dl/n_docs/n_tokens scoring stats (an " +
        "index written before they moved onto the postings rows); " +
        "rebuild it with Index.writeInverted")
    val qRows = q.collect().toSeq
    val qlen = Retrieval.qlenOf(qRows.map(_.getAs[Any]("qid")))
    val byTerm = qRows.filter(_.getAs[String]("term") != null)
      .groupBy(_.getAs[String]("term"))
    // term → array<struct<q's other columns..., qlen>>, one element per
    // query row (a repeated term matches once per repetition, as a
    // join would); the cast names the fields and types the empty map
    val qCols = q.schema.fields.filter(_.name != "term")
    val qOf = map(byTerm.toSeq.flatMap { case (t, rs) =>
      Seq(lit(t), array(rs.map(r => struct(qCols.map(f =>
        lit(r.getAs[Any](f.name))) :+ lit(qlen(r.getAs[Any]("qid"))): _*)): _*))
    }: _*).cast(MapType(StringType, ArrayType(StructType(
      qCols :+ StructField("qlen", LongType)))))
    val stats = Seq("df", "cf", "n_docs", "n_tokens").map(col)
    // the query rows explode first, against the few postings ROWS, so
    // the matched stream is produced by the one postings explode
    val matched = post
      .filter(col("term").isin(byTerm.keys.toSeq: _*))
      .select(stats ++ Seq(col("postings"),
        explode(element_at(qOf, col("term"))).as("q")): _*)
      .select(col("q.*") +: stats :+ explode(col("postings")).as("p"): _*)
      .select(col("*"), col("p.*")).drop("p")
    // part -> gate -> rank is Retrieval.scoreMatched VERBATIM (review
    // r14: this block was copy-pasted four times across the scorers —
    // one definition, so a gating/tie-break change can never drift)
    Retrieval.scoreMatched(matched, partExpr, finalExpr, conjunctive, k)
  }

  /** Retrieval from the materialized index — identical semantics to
    * [[Retrieval.scoreFor]] on the raw corpus (asserted in IndexSpec),
    * without re-tokenizing.
    */
  def scoreFromIndex(dv: DataFrame, q: DataFrame, partExpr: String,
                     finalExpr: String, conjunctive: Boolean, k: Int): DataFrame = {
    val tf = dv.select(col("doc_id"), explode(col("dv")).as(Seq("term", "tf")))
    val dl = dv.select(col("doc_id"), col("len").as("dl"))
    val qlen = Retrieval.qlenOf(q) // one definition, review r19
    // df/cf from the SAME exploded frame the scorer scans — ONE
    // definition of tf, so the stats and the matched rows can never
    // disagree (semantics: tf has one row per (doc, term), so
    // count(*) = df). Honest cost note (review r19, correcting the
    // r14 claim of a saved scan): the tstats aggregation and the
    // matched-join consumer share NO exchange boundary below this
    // point, so the physical plan still scans the index parquet twice
    // per query batch — callers batching many queries should persist
    // `dv`; the shared frame buys definitional consistency, not I/O.
    val tstats = Retrieval.tstatsFor(tf, q)
    val cs = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("n_tokens"))
    Retrieval.scoreMatched(
      tf.join(broadcast(q), Seq("term"))
        .join(dl, Seq("doc_id"))
        .join(broadcast(tstats), Seq("term"))
        .join(broadcast(qlen), Seq("qid"))
        .crossJoin(broadcast(cs)),
      partExpr, finalExpr, conjunctive, k)
  }
}
