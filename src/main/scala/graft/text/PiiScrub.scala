package graft.text

import graft.functions.RegexChain
import org.apache.spark.sql.Column

/** PII redaction for training corpora: emails, phone numbers, IPv4
  * addresses, and card-shaped digit runs are replaced with stable
  * placeholder tokens BEFORE any content-addressing (dedup hashes,
  * fingerprints), so redaction never splits otherwise-identical
  * documents. Patterns avoid lookarounds on purpose — they must run
  * identically under Java regex (Spark) and RE2 (the DuckDB oracle),
  * and RE2 has none; digit-adjacency guards use a captured prefix
  * class with a backreference in the replacement instead.
  *
  * Runs as a single [[RegexChain]] expression: codegen-friendly, one
  * string materialization per row, pattern compilation hoisted per
  * executor (see RegexChain's doc for why chained regexp_replace is
  * the wrong shape past a few stages).
  */
object PiiScrub {

  /** (pattern, replacement) stages, order observable: cards before
    * phones (a 16-digit card would otherwise half-match the phone
    * shape), emails before IPs (domain literals).
    *
    * Card separators are OPTIONAL per group, so an unseparated 13-19
    * digit PAN (the most common printed form) is redacted too; the
    * `(^|[^0-9])…($|[^0-9])` guards keep the stage off longer digit
    * runs. Recall over precision is deliberate for a PII scrubber —
    * a bare 13-19 digit run (e.g. an epoch-millis timestamp) is
    * card-shaped and gets redacted.
    */
  val Stages: Seq[(String, String)] = Seq(
    // email first: user@host swallows digits that later stages might eat
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    // 13-19 digit card runs, each group separator an optional -/space
    "(^|[^0-9])[0-9]{4}[- ]?[0-9]{4}[- ]?[0-9]{4}[- ]?[0-9]{1,7}($|[^0-9])" -> "$1<CARD>$2",
    // phone shapes, 3 separated groups with an optional country-code
    // prefix (with or without '+', its own separator required) and
    // optional parens on the area code: 010-1234-5678,
    // +82 10 1234 5678, 82 10 1234 5678, (02) 123-4567
    "(^|[^0-9])(?:\\+?[0-9]{1,3}[- .])?\\(?[0-9]{1,4}\\)?[- .][0-9]{3,4}[- .][0-9]{4}($|[^0-9])" -> "$1<PHONE>$2",
    // IPv4
    "(^|[^0-9.])([0-9]{1,3}\\.){3}[0-9]{1,3}($|[^0-9.])" -> "$1<IP>$3"
  )

  /** Redact PII in a string column. */
  def scrub(text: Column): Column = RegexChain(text, Stages)

  /** Bulk corpus scrubbing with candidate-gated regex execution
    * ([[PiiScan.Scrubber]]) — byte-identical output to [[scrub]]
    * (differential-tested in PiiScanSpec: 5000 randomized digit-soup
    * cases, targeted guard-consumption edge cases, and the full real
    * corpus), ~13× the throughput of the raw 4-stage replaceAll chain
    * at 32 threads (PiiSpin: 175 vs 13 Mchars/s — BASELINE.md; the
    * probe source is at commit a311a59).
    *
    * Why gating instead of tuning the chain: every stage pattern opens
    * with a guard alternation (`(^|[^0-9])…`) java.util.regex cannot
    * derive a start-set from, so `replaceAll` attempts the full NFA at
    * ~every position (~59 ns/char measured) — and the attempt loop is
    * also where the engine's concurrency ceiling lives (PiiProbe:
    * 32 threads ≈ 2-4× one thread on a ≥16-core host, corpus-size
    * independent). Candidate positions (digit/'@'/'+'/'(' adjacency)
    * are enumerated with plain char scans instead, and the SAME
    * compiled Patterns do the matching via region-anchored lookingAt,
    * so greedy backtracking / guard-consumption semantics are the
    * engine's own. One Scrubber per partition (Matchers are mutable);
    * constant memory; the `batch` parameter is kept for signature
    * stability but no longer affects execution.
    */
  def scrubBatched(
      ds: org.apache.spark.sql.Dataset[(Long, String)],
      batch: Int = 4096
  ): org.apache.spark.sql.Dataset[(Long, String)] = {
    implicit val enc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.STRING)
    ds.mapPartitions { it =>
      val scr = new PiiScan.Scrubber()
      it.map { case (id, t) => (id, if (t == null) null else scr.scrub(t)) }
    }
  }

  /** The same stages as DuckDB SQL over `input` — RE2 backreferences
    * are `\1`, otherwise the patterns are shared verbatim. Kept next to
    * the Scala stages so they cannot drift apart silently.
    */
  def scrubSql(input: String): String = {
    val duck = Seq(
      ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
      ("(^|[^0-9])[0-9]{4}[- ]?[0-9]{4}[- ]?[0-9]{4}[- ]?[0-9]{1,7}($|[^0-9])", "\\1<CARD>\\2"),
      ("(^|[^0-9])(?:\\+?[0-9]{1,3}[- .])?\\(?[0-9]{1,4}\\)?[- .][0-9]{3,4}[- .][0-9]{4}($|[^0-9])", "\\1<PHONE>\\2"),
      ("(^|[^0-9.])([0-9]{1,3}\\.){3}[0-9]{1,3}($|[^0-9.])", "\\1<IP>\\3")
    )
    duck.foldLeft(input) { case (acc, (p, r)) =>
      s"regexp_replace($acc, '$p', '$r', 'g')"
    }
  }
}
