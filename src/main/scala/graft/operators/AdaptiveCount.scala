package graft.operators

import org.apache.spark.sql.DataFrame

import graft.sources.SnapshotMemo

/** Session-scoped memo for the ONE eager `count()` that adaptive
  * parameter resolution runs at plan-build time ([[Banded.resolve]] for
  * the banded families, SemDeDup's cluster count): one count per corpus
  * snapshot per session, not a footer/metadata scan per operator call.
  *
  * Key = (plan semantic hash, input-file list hash) in a
  * [[graft.sources.SnapshotMemo]], which adds the session. The file-list
  * component is what makes a same-path OVERWRITE a miss: every supported
  * writer (Spark parquet overwrite, [[graft.sources.Tables.writeTable]])
  * emits fresh part-file names, so the `inputFiles` set changes whenever
  * the data does. The one mutation this cannot see — bytes rewritten IN
  * PLACE inside an existing part file — is not a write path any Spark
  * sink produces. Both reads (semantic hash, file listing) are
  * driver-side only: the file index was already materialized when the
  * plan was analyzed, so no job runs on a hit OR for the key itself.
  *
  * The evidence checked on every hit is the actual file list plus a
  * sha-256 digest of the canonicalized plan (a corpus and its filtered
  * slice share session and file list and differ only in the 32-bit
  * semanticHash). */
private[graft] object AdaptiveCount {

  private[graft] val memo = new SnapshotMemo[(Int, Int), (Seq[String], String), Long]

  /** Count jobs actually run (memo misses) — spec-pinned, and surfaced
    * in the Bench/Verify diag JSON so every committed artifact shows the
    * one-count-per-corpus-per-session contract holding. */
  private[graft] def misses = memo.misses

  /** (key, evidence) of `df`. */
  private[graft] def keyOf(df: DataFrame): ((Int, Int), (Seq[String], String)) = {
    val files = df.inputFiles.toSeq
    ((df.semanticHash(), files.hashCode), (files, planDigestOf(df)))
  }

  /** sha-256 of the canonicalized analyzed plan — the full-strength
    * plan identity a 32-bit semanticHash only approximates. Driver-side
    * string render of an already-analyzed plan; no job runs. */
  private[graft] def planDigestOf(df: DataFrame): String = {
    val canon = df.queryExecution.analyzed.canonicalized.toString
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(canon.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
  }

  private[graft] def of(df: DataFrame): Long = {
    val (key, evidence) = keyOf(df)
    memo(df.sparkSession, key)(n => Some((n, evidence))) {
      val n = df.count()
      (n, evidence, n)
    }
  }
}
