package graft.ir

import graft.{SparkSpec, Tables}
import graft.sources.Topics
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Materialized index ≡ direct scan: retrieval from the Parquet
  * doc-vector table must produce exactly the ranked lists the raw-text
  * pipeline produces (SURVEY §3.3 HBase-replacement equivalence).
  */
class IndexSpec extends SparkSpec {

  test("index round-trip: scoreFromIndex == scoreFor on raw text") {
    import spark.implicits._
    val dir = Files.createTempDirectory("dv").toString + "/idx"
    val docs = Tables(spark, sfTiny, "documents")
    Index.write(docs, dir, buckets = 4)
    val dv = Index.load(spark, dir)

    val q = Retrieval.querySet
      .flatMap { case (qid, ts) => ts.map(qid -> _) }.toDF("qid", "term")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2), r.getInt(3))).toSet

    val direct = Retrieval.scoreFor(docs, q,
      Retrieval.lmdirPart, Retrieval.lmdirFinal, conjunctive = false, 10)
    val indexed = Index.scoreFromIndex(dv, q,
      Retrieval.lmdirPart, Retrieval.lmdirFinal, conjunctive = false, 10)
    assert(key(direct) == key(indexed))
    assert(key(direct).nonEmpty)
  }

  test("inverted index: scoreFromInverted == scoreFor, term filter pushed") {
    import spark.implicits._
    val dir = Files.createTempDirectory("inv").toString + "/idx"
    val docs = Tables(spark, sfTiny, "documents")
    Index.writeInverted(docs, dir, files = 4)
    // parallel write: range partitioning must yield MULTIPLE part files
    // (no single-task funnel) while keeping global term order across
    // them — file k's max term below file k+1's min term is exactly the
    // property parquet min/max row-group pruning needs.
    val parts = new java.io.File(s"$dir/postings").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    assert(parts.length > 1, "expected a parallel multi-file postings write")
    val ranges = parts.map { f =>
      val t = spark.read.parquet(f.getPath).agg(
        min("term"), max("term")).collect()(0)
      (t.getString(0), t.getString(1))
    }.filter(r => r._1 != null)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) =>
        assert(hi <= lo, s"files out of global term order: $hi > $lo")
      case _ =>
    }
    val q = Retrieval.querySet
      .flatMap { case (qid, ts) => ts.map(qid -> _) }.toDF("qid", "term")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2), r.getInt(3))).toSet
    val direct = Retrieval.scoreFor(docs, q,
      Retrieval.lmdirPart, Retrieval.lmdirFinal, conjunctive = false, 10)
    val inverted = Index.scoreFromInverted(spark, dir, q,
      Retrieval.lmdirPart, Retrieval.lmdirFinal, conjunctive = false, 10)
    assert(key(inverted) == key(direct))
    assert(key(inverted).nonEmpty)
    // the literal term predicate must reach the parquet scan
    val explained = inverted.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(explained.contains("PushedFilters: [In(term"),
      "term IN (...) must appear in PushedFilters")
  }

  test("sharded inverted index: bounded rows, identical scores") {
    import spark.implicits._
    val dir = Files.createTempDirectory("invsh").toString + "/idx"
    val docs = Tables(spark, sfTiny, "documents")
    // maxPostings far below the corpus head df, so head terms MUST
    // split into multiple shard rows
    Index.writeInverted(docs, dir, files = 4, maxPostings = 16)
    val post = spark.read.parquet(s"$dir/postings")
    assert(post.columns.contains("shard"))
    // the pressure-valve property: NO row's array exceeds the bound
    val worst = post.agg(max(size(col("postings")))).collect()(0).getInt(0)
    assert(worst <= 16, s"postings row of $worst exceeds maxPostings")
    // head terms really did shard (df > 16 somewhere in the corpus)
    assert(post.groupBy("term").count().agg(max("count"))
      .collect()(0).getLong(0) > 1, "expected at least one sharded term")
    // shards of one term agree on term-level df/cf and partition the
    // postings: df == total collected entries per term
    val agree = post.groupBy("term")
      .agg(countDistinct("df").as("ndf"), countDistinct("cf").as("ncf"),
        sum(size(col("postings"))).as("n"), first("df").as("df"))
    assert(agree.filter(col("ndf") =!= 1 || col("ncf") =!= 1).count() == 0)
    assert(agree.filter(col("n") =!= col("df")).count() == 0)
    // and retrieval over the sharded layout is bit-identical to the
    // raw-corpus scorer (scoreFromInverted reads both layouts)
    val q = Retrieval.querySet
      .flatMap { case (qid, ts) => ts.map(qid -> _) }.toDF("qid", "term")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2), r.getInt(3))).toSet
    val direct = Retrieval.scoreFor(docs, q,
      Retrieval.lmdirPart, Retrieval.lmdirFinal, conjunctive = false, 10)
    val sharded = Index.scoreFromInverted(spark, dir, q,
      Retrieval.lmdirPart, Retrieval.lmdirFinal, conjunctive = false, 10)
    assert(key(sharded) == key(direct) && key(sharded).nonEmpty)
  }

  // Beyond disjunctive LM-Dirichlet: the models that read qlen (the
  // conjunctive gate, cross-entropy) and n_docs/df (BM25), a repeated
  // query term, a term absent from the index, and several topics per
  // call — on the compact and the sharded layout alike.
  for ((layout, maxP) <- Seq("compact" -> 0, "sharded" -> 16))
    test(s"$layout inverted index: scoreFromInverted == scoreFor across " +
      "models, repeated and unknown terms, two topics per call") {
      import spark.implicits._
      val dir = Files.createTempDirectory(s"inv-$layout").toString + "/idx"
      val docs = Tables(spark, sfTiny, "documents")
      Index.writeInverted(docs, dir, files = 4, maxPostings = maxP)
      def topics(ts: (String, Seq[String])*) =
        ts.flatMap { case (qid, terms) => terms.map(qid -> _) }
          .toDF("qid", "term")
      def key(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getLong(1),
          r.getDouble(2), r.getInt(3))).toSet
      val lmno = (Retrieval.lmnoPart, Retrieval.lmnoFinal)
      val bm25 = (Retrieval.bm25Part, Retrieval.bm25Final)
      val lmdir = (Retrieval.lmdirPart, Retrieval.lmdirFinal)
      val xent = (Retrieval.xentPart, Retrieval.xentFinal)
      val cases = Seq(
        ("conjunctive LM", topics("51" -> Seq("spark", "join")), lmno, true),
        ("BM25", topics("52" -> Seq("window", "filter", "sort")), bm25, false),
        ("repeated term, conjunctive",
          topics("53" -> Seq("data", "merge", "data")), lmno, true),
        ("repeated term, cross-entropy",
          topics("53" -> Seq("data", "merge", "data")), xent, false),
        ("two topics", topics("54" -> Seq("stream", "batch"),
          "55" -> Seq("hash", "table", "scan")), bm25, false))
      for ((name, q, (part, fin), conj) <- cases) {
        val direct = key(Retrieval.scoreFor(docs, q, part, fin, conj, 10))
        val inverted =
          key(Index.scoreFromInverted(spark, dir, q, part, fin, conj, 10))
        assert(direct.nonEmpty, s"$name: the case must rank something")
        assert(inverted == direct, s"$name: index and scan rankings differ")
        assert(inverted.map(_._1) == q.select("qid").as[String].collect().toSet,
          s"$name: every topic of the call must be ranked")
      }
      val unknown = topics("56" -> Seq("qqqnotinthecorpus"))
      assert(Index.scoreFromInverted(spark, dir, unknown,
        lmdir._1, lmdir._2, conjunctive = false, 10).collect().isEmpty)
      assert(Retrieval.scoreFor(docs, unknown,
        lmdir._1, lmdir._2, conjunctive = false, 10).collect().isEmpty)
    }

  test("an inverted index without the scoring stats fails loudly, " +
    "naming the path and the rebuild") {
    import spark.implicits._
    // the layout as written before dl/n_docs/n_tokens moved onto the
    // postings rows: (term, postings: [(doc_id, tf)], df, cf) plus a
    // doclen side table
    val dir = Files.createTempDirectory("invold").toString + "/idx"
    Seq(("spark", Seq((1L, 2L), (2L, 1L)), 2L, 3L))
      .toDF("term", "postings", "df", "cf")
      .selectExpr("term", "transform(postings, p -> named_struct(" +
        "'doc_id', p._1, 'tf', p._2)) AS postings", "df", "cf")
      .write.parquet(s"$dir/postings")
    Seq((1L, 5L), (2L, 4L)).toDF("doc_id", "dl").write.parquet(s"$dir/doclen")
    val q = Seq("51" -> "spark").toDF("qid", "term")
    val e = intercept[IllegalArgumentException](Index.scoreFromInverted(
      spark, dir, q, Retrieval.lmdirPart, Retrieval.lmdirFinal,
      conjunctive = false, 10))
    assert(e.getMessage.contains(s"$dir/postings"), e.getMessage)
    assert(e.getMessage.contains("rebuild it with Index.writeInverted"),
      e.getMessage)
  }

  test("index term stats match direct stats") {
    val dir = Files.createTempDirectory("dv2").toString + "/idx"
    val docs = Tables(spark, sfTiny, "documents")
    Index.write(docs, dir, buckets = 4)
    val fromIdx = Index.termStats(Index.load(spark, dir))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val direct = graft.text.TextOps.termFreqs(docs)
      .groupBy("term").agg(count(lit(1)).as("df"), sum("tf").as("cf"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(fromIdx == direct)
  }

  test("augmented topic file round-trips (QueryTermCount format)") {
    import spark.implicits._
    val path = Files.createTempDirectory("topics").toString + "/aug"
    val stats = Seq(
      ("51", "horse", 1L, 123L, 456L), ("51", "hooves", 1L, 12L, 34L),
      ("52", "avp", 2L, 5L, 9L))
      .toDF("qid", "term", "qtf", "df", "cf")
    Topics.writeAugmented(stats, 1000000L, 5000L, path)
    val ((len, nd), rows) = Topics.readAugmented(spark, path)
    assert(len == 1000000L && nd == 5000L)
    val back = rows.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(back == Set(("51", "horse", 1L, 123L, 456L),
      ("51", "hooves", 1L, 12L, 34L), ("52", "avp", 2L, 5L, 9L)))
  }

  test("weighted topic file parses (RunQueryHBase format)") {
    val path = Files.createTempDirectory("topics2").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "w.topics"),
      "51,5:5:0.1\tairbus:0.4079 subsidy:0.2744\n52,5:5:0.1\tx:1.0\n")
    val rows = Topics.readWeighted(spark, path).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(rows == Set(("51,5:5:0.1", "airbus", 0.4079),
      ("51,5:5:0.1", "subsidy", 0.2744), ("52,5:5:0.1", "x", 1.0)))
  }

  test("keyval reader splits TREC-ID / URL / text") {
    val path = Files.createTempDirectory("kv").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "kv.tsv"),
      "test1\thttp://a.com\tanchor one\tanchor two\n")
    val r = Topics.readKeyval(spark, path).head()
    assert(r.getString(0) == "test1")
    assert(r.getString(1) == "http://a.com")
    assert(r.getString(2) == "anchor one\tanchor two")
  }
}
