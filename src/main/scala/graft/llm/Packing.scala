package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing and context-window chunking — the tokenizer-adjacent
  * half of a training-data pipeline: turning variable-length documents
  * into the fixed-length windows a trainer actually consumes.
  *
  * Both operators work on token COUNTS and OFFSETS (whitespace tokens,
  * [[TextStats.words]]) rather than materialized token arrays: at corpus
  * scale the interesting output is the packing/chunking PLAN (which doc
  * lands in which training window), which is what downstream shuffle
  * writers consume; materializing the token stream itself would multiply
  * the corpus size for no planning benefit.
  */
object Packing {

  /** Shard-local greedy concat-and-chunk sequence packing — the
    * GPT-style scheme: concatenate documents in a deterministic order,
    * then split the token stream at every `seqLen` boundary. Documents
    * are dealt into `shards` independent streams (`doc_id % shards`, so
    * the assignment is reproducible under re-runs and corpus appends
    * keep old shards' prefixes stable); within a shard, docs concatenate
    * in `doc_id` order.
    *
    * Per document: the covering bin range (`bin_first..bin_last`,
    * bin ids shard-local), the number of bins it spans, and its start
    * offset inside `bin_first`. A document longer than `seqLen` simply
    * spans several bins — no truncation at this layer.
    *
    * Scale: the only sequential state is a per-shard running token sum —
    * ONE window pass partitioned by shard. Pick `shards` ≫ executor
    * slots and partitions stay balanced; there is no global ordering
    * dependency, unlike a corpus-wide concat (a single-partition window
    * that cannot distribute).
    */
  def packConcat(
      docs: DataFrame,
      seqLen: Int,
      shards: Int,
      textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("doc_id")
    docs
      .select(
        col("doc_id"),
        pmod(col("doc_id"), lit(shards.toLong)).as("shard"),
        size(TextStats.words(col(textCol))).cast("long").as("n_tokens"))
      .withColumn("cum_before",
        coalesce(
          sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(
        col("shard"), col("doc_id"), col("n_tokens"),
        floor(col("cum_before") / seqLen).as("bin_first"),
        floor((col("cum_before") + col("n_tokens") - 1) / seqLen).as("bin_last"),
        (col("cum_before") % seqLen).as("start_in_bin"))
      .withColumn("n_bins", col("bin_last") - col("bin_first") + lit(1L))
  }

  /** Overlapping context-window chunking (the embedding/RAG shape):
    * each document splits into windows of `window` tokens at `stride`
    * steps. Chunk count is `ceil(max(n − window, 0) / stride) + 1` —
    * the last window is right-clamped to the document end, and a
    * document shorter than `window` yields exactly one (short) chunk;
    * no degenerate trailing chunk is ever fully contained in its
    * predecessor.
    *
    * Output carries the token offsets AND an md5 over the chunk's
    * joined words — the content digest is what makes a cross-engine
    * check verify the chunk boundaries, not just the arithmetic.
    *
    * Scale: explode over a per-doc `sequence()` — embarrassingly
    * parallel, output rows = total chunks, no shuffle at all until a
    * consumer asks for one.
    */
  def chunkWindows(
      docs: DataFrame,
      window: Int,
      stride: Int,
      textCol: String = "text"): DataFrame = {
    require(stride > 0 && window >= stride,
      s"window=$window must cover stride=$stride")
    val nChunks =
      floor((greatest(col("n_tokens") - window, lit(0)) + (stride - 1)) / stride)
        .cast("int") + lit(1)
    docs
      .select(col("doc_id"), TextStats.words(col(textCol)).as("__ws"))
      .withColumn("n_tokens", size(col("__ws")))
      .withColumn("chunk_idx", explode(sequence(lit(0), nChunks - 1)))
      .select(
        col("doc_id"), col("n_tokens"), col("chunk_idx"),
        (col("chunk_idx").cast("long") * stride).as("start_tok"),
        least(col("chunk_idx").cast("long") * stride + window,
          col("n_tokens").cast("long")).as("end_tok"),
        md5(concat_ws(" ",
          slice(col("__ws"), col("chunk_idx") * stride + 1,
            least(lit(window),
              col("n_tokens") - col("chunk_idx") * stride)))).as("chunk_md5"))
      .withColumn("chunk_tokens", col("end_tok") - col("start_tok"))
  }
}
