package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CacheScope, Fanout, Tables}
import graft.operators.{Curation, Dedup, Retrieval, Similarity, TextOps}

/** Per-layer probes of the traced run: each layer entry point is called
  * directly, through its public functions, on fixed input from the run's
  * data directory. Every probe result is forced with a `noop` write.
  */
object Probes {

  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** `sources`: seconds to build every table DataFrame once (file listing
    * and parquet footer), median of five rounds.
    */
  def resolve(spark: SparkSession, dir: String): Double = {
    val t = Tables(spark, dir)
    median((1 to 5).map(_ => seconds(t.names.foreach(n => t.table(n).schema))))
  }

  /** `functions`: ns per row of each native kernel alone, over the
    * documents (words / shingle hashes) or embeddings, replicated `rep`
    * times and cached before timing. Median of three rounds.
    */
  def kernels(spark: SparkSession, dir: String, rep: Int,
      span: (String, => Unit) => Unit): Seq[(String, Double)] = {
    val t = Tables(spark, dir)
    val copies = spark.range(rep).select(col("id").as("copy"))
    def cached(df: DataFrame): (DataFrame, Long) = {
      val c = df.crossJoin(copies).drop("copy").persist()
      (c, c.count())
    }
    val (words, nw) = cached(t.documents.select(split(lower(col("text")), "\\s+").as("words")))
    val (hashes, nh) = cached(t.documents.select(
      transform(graft.functions.shingles_of(split(lower(col("text")), "\\s+"), 3),
        s => Dedup.SharedHash.hash28(s)).as("xs")))
    val (vecs, ne) = cached(t.embeddings.select(col("embedding").as("a"),
      reverse(col("embedding")).as("b")))
    val cases: Seq[(String, DataFrame, Long, Column)] = Seq(
      ("minhash_sig", hashes, nh, graft.functions.minhash_sig(col("xs"), 64)),
      ("simhash_fp", hashes, nh, graft.functions.simhash_fp(col("xs"))),
      ("shingles_of", words, nw, graft.functions.shingles_of(col("words"), 3)),
      ("repetition_signals", words, nw, graft.functions.repetition_signals(col("words"), 3)),
      ("md5_windows", words, nw, graft.functions.md5_windows(col("words"), 8)),
      ("cosine_f", vecs, ne, graft.functions.cosine_f(col("a"), col("b"))),
      ("lsh_bucket", vecs, ne, graft.functions.lsh_bucket(col("a"), 16)))
    try cases.map { case (name, in, rows, k) =>
      var times = Seq.empty[Double]
      span(s"probe.functions.$name", {
        times = (1 to 3).map(_ => seconds(force(in.select(k.as("k")))))
      })
      name -> median(times) * 1e9 / rows
    } finally Seq(words, hashes, vecs).foreach(_.unpersist())
  }

  /** `operators`: seconds of each entry called directly on the run's
    * data. Each entry runs twice and the second call is reported, so JIT
    * and code generation are not counted. Index writes go under `scratch`.
    */
  def operators(spark: SparkSession, dir: String, scratch: String,
      span: (String, => Unit) => Unit): Seq[(String, Double)] = {
    val t = Tables(spark, dir)
    val docs = Fanout(t.documents.select(col("doc_id").as("id"), col("text")))
    val emb = Fanout(t.embeddings)
    val bmDir = s"$scratch/bm25"
    val ivfDir = s"$scratch/ivf"
    val merges = TextOps.bpeMergesByteLevel(Fanout(t.documents), col("text"), 8,
      requireFull = true).orderBy(col("merge_round"))
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val vocab = TextOps.bpeVocabIdsByteLevel(merges)
    val toks = Fanout(t.documents).select(col("source"), col("doc_id"),
      flatten(transform(regexp_extract_all(lower(col("text")),
        lit(TextOps.byteLevelTokenPattern), lit(0)),
        w => graft.functions.bpe_encode(w, merges, byteLevel = true))).as("toks"))
    val terms = Fanout(t.documents)
      .select(col("doc_id").as("id"),
        expr("filter(split(lower(text), '\\\\s+'), x -> length(x) > 0)").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("id"), (size(col("ws")) - 1).cast("long").as("dl"),
        explode(expr(
          "transform(sequence(1, size(ws) - 1, 1), i -> concat(ws[i - 1], ' ', ws[i]))"))
          .as("term"))
      .groupBy(col("id"), col("dl"), col("term")).agg(count(lit(1)).as("tf"))
    val seeds = t.documents.filter(col("doc_id") < 4)
      .select(col("doc_id").as("id"), col("text"))
    val queries = emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val entries: Seq[(String, () => Unit)] = Seq(
      "dedup_corpus" -> (() => force(Dedup.dedupCorpus(docs, 3, 64, 16, 0.8))),
      "minhash_lsh_pairs" -> (() => force(Dedup.minhashLshPairs(docs, 3, 64, 16, 0.7))),
      "bpe_merges_byte_level" -> (() => force(TextOps.bpeMergesByteLevel(
        Fanout(t.documents), col("text"), 8, requireFull = true))),
      "pack_shard_ids" -> (() => force(Curation.packShardIds(toks, col("source"),
        col("doc_id"), col("toks"), vocab, 1000L, partitions = 32))),
      "write_bm25_index" -> (() => Retrieval.writeBm25Index(terms, bmDir, 64)),
      "write_ivf_index" -> (() => Similarity.writeIvfIndex(emb, ivfDir, 16)),
      "bm25_against_index" -> (() => force(Retrieval.bm25AgainstIndex(
        Retrieval.seedQueriesAgainstIndex(seeds, bmDir, 3), bmDir, 10, 1.2, 0.75,
        excludeSelf = true))),
      "ivf_topk_against_index" -> (() => force(
        Similarity.ivfTopKAgainstIndex(queries, ivfDir, 2, 10))))
    entries.map { case (name, run) =>
      var last = 0.0
      span(s"probe.operators.$name", {
        (1 to 2).foreach { _ =>
          last = seconds(run())
          CacheScope.drain()
          spark.catalog.clearCache()
        }
      })
      name -> last
    }
  }
}
