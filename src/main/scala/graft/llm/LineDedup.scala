package graft.llm

import graft.Materializer.MaterializeOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Line-level cross-document deduplication — the C4 recipe (Raffel et
  * al. 2020): a line (sentence/paragraph) that occurs in more than one
  * document is boilerplate (cookie banners, navigation, license
  * headers) and is removed from EVERY document, then documents are
  * reassembled from their surviving lines in original order.
  *
  * Scale shape: segmentation is a row-local split+posexplode (no
  * shuffle); line identity is xxhash64 of the normalized line (8-byte
  * keys through the one hash-keyed aggregation that computes document
  * frequency); the df table carries ONLY (hash, df>1) back — a
  * broadcast-or-shuffle equi-join Spark picks by size; reassembly is a
  * collect_list over the doc-keyed exchange with positions restoring
  * order. Line text itself never shuffles twice — the only wide
  * operation on raw text is the original segmentation.
  */
object LineDedup {

  /** Normalized segment identity: trimmed, lowercased, inner
    * whitespace collapsed — byte-identical across engines. */
  def lineKey(line: Column): Column =
    xxhash64(regexp_replace(lower(trim(line)), "\\s+", " "))

  /** Segment documents into lines on a separator regex and drop every
    * line whose normalized form appears in `minDocs`+ DISTINCT
    * documents; return the reassembled corpus.
    *
    * @param sepRegex  segment boundary (default: sentence-ish — '.'
    *                  followed by whitespace)
    * @param minDocs   document-frequency threshold; a line in >=
    *                  minDocs distinct docs is removed everywhere
    * @return (id, text, n_lines, n_dropped) — text rebuilt from
    *         surviving lines joined by `joiner`, rows with zero
    *         surviving lines kept with empty text
    */
  def dropSharedLines(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sepRegex: String = "\\.\\s+",
      joiner: String = ". ",
      minDocs: Long = 2L): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    // materialized once: lines feeds the doc-frequency branch AND the
    // keep/reassemble join — without this the whole segmentation
    // (split + posexplode + normalize-regex + hash) replays per
    // consumer, two full corpus passes for a one-pass job
    val lines = docs
      .select(col(idCol).as("doc"),
        posexplode(split(col(textCol), sepRegex)).as(Seq("pos", "line")))
      .where(length(trim(col("line"))) > 0)
      .withColumn("h", lineKey(col("line")))
      .materialized("line_dedup_lines")

    // df over DISTINCT docs per hash: two-level aggregate keeps the
    // per-hash state bounded (a boilerplate line in 10M docs reduces
    // map-side; no collect of doc lists)
    val shared = lines.select("h", "doc").distinct()
      .groupBy("h").agg(count(lit(1)).as("df"))
      .where(col("df") >= minDocs)
      .select(col("h"), lit(true).as("_shared"))

    val kept = lines
      .join(shared, Seq("h"), "left")
      .withColumn("_drop", coalesce(col("_shared"), lit(false)))

    val rebuilt = kept
      .groupBy("doc")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("_drop"), 1L).otherwise(0L)).as("n_dropped"),
        array_join(transform(
          array_sort(collect_list(when(!col("_drop"),
            struct(col("pos"), col("line"))))),
          e => e.getField("line")), joiner).as("text"))

    // docs whose every segment was empty never reach the aggregate;
    // restore them with empty text so the corpus keeps its row set
    docs.select(col(idCol).as("doc"))
      .join(rebuilt, Seq("doc"), "left")
      .select(col("doc").as(idCol),
        coalesce(col("text"), lit("")).as("text"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
  }
}
