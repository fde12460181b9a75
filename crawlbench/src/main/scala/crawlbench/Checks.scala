package crawlbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.TaskStatus

/** Correctness checks every run makes on a crawl's final state. */
object Checks {

  /** Frontier columns the digest covers: identity, status and the
    * virtual-clock schedule. Capture metadata (etag, last_modified) is left
    * out because a live capture and an archived one carry it differently. */
  val frontierDigestCols: Seq[String] = Seq("project", "url_hash", "url", "host", "status",
    "priority", "exetime", "retries", "retried", "seed_url", "updatetime", "crawled_ok")
  val resultDigestCols: Seq[String] = Seq("project", "url_hash", "url", "type", "seed_url",
    "updatetime")

  /** Order-independent digest of a frame's rows: row count plus the XOR of
    * two independent 64-bit row hashes. Duplicate rows could cancel in the
    * XOR; the key-uniqueness check rules them out. */
  final case class Digest(rows: Long, h1: Long, h2: Int) {
    override def toString: String = f"$rows%d:$h1%016x:$h2%08x"
  }

  private def digestAggs(cols: Seq[String]): Seq[Column] = {
    val c = cols.map(col)
    Seq(count(lit(1)), bit_xor(xxhash64(c: _*)), bit_xor(hash(c.reverse: _*)))
  }

  def digest(df: DataFrame, cols: Seq[String]): Digest = {
    val r = df.agg(digestAggs(cols).head, digestAggs(cols).tail: _*).collect()(0)
    Digest(r.getLong(0), r.getLong(1), r.getInt(2))
  }

  def stateDigest(frontier: DataFrame, results: DataFrame): String =
    s"${digest(frontier, frontierDigestCols)}/${digest(results, resultDigestCols)}"

  /** Counter fields a crawl reports, summed over its steps. */
  final case class Totals(newTasks: Long, doneSuccess: Long, failedNow: Long)

  object Totals {
    def of(perProject: Map[String, Map[String, Long]]): Totals = {
      def sum(k: String) = perProject.values.map(_.getOrElse(k, 0L)).sum
      Totals(sum("new_tasks"), sum("done_success"), sum("failed_now"))
    }
  }

  val invariantNames: Seq[String] = Seq("frontier_key_unique", "results_belong_to_success",
    "counters_match_rows", "counters_match_success", "counters_match_failed")

  /** A crawl's final state, checked: the invariants that failed (empty when
    * all hold), the frontier and results digests, and their row counts. */
  final case class Verdict(failed: Seq[String], frontier: Digest, results: Digest) {
    def digest: String = s"$frontier/$results"
  }

  /** Checks the invariants and digests the state, in one pass over the
    * frontier, one over the results and one anti-join between them. */
  def verify(frontier: DataFrame, results: DataFrame, seedRows: Long,
      totals: Totals): Verdict = {
    val r = frontier.agg(
      count_distinct(col("project"), col("url_hash")),
      (Seq(sum(when(col("status") === TaskStatus.Success, 1L).otherwise(0L)),
        sum(when(col("status") === TaskStatus.Failed, 1L).otherwise(0L))) ++
        digestAggs(frontierDigestCols)): _*).collect()(0)
    val (distinct, success, failed) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val fd = Digest(r.getLong(3), r.getLong(4), r.getInt(5))
    val orphanResults = results.join(
      frontier.where(col("status") === TaskStatus.Success).select("project", "url_hash"),
      Seq("project", "url_hash"), "left_anti").count()
    val ok = Seq(
      fd.rows == distinct,
      orphanResults == 0L,
      fd.rows == seedRows + totals.newTasks,
      success == totals.doneSuccess,
      failed == totals.failedNow)
    Verdict(invariantNames.zip(ok).collect { case (n, false) => n }, fd,
      digest(results, resultDigestCols))
  }
}
