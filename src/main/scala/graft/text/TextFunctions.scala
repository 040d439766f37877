package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Catalyst-native (codegen'd, no UDF) equivalents of the reference's
  * per-row string transforms. Kept as Column combinators so Catalyst
  * can push/prune/fold around them.
  */
object TextFunctions {

  /** Python-`\s` character class (see PyText.PyWsClass). */
  private val ws = PyText.PyWsClass

  /** normalize_whitespace (core/processors/base.py:59-61):
    * `re.sub(r"\s+", " ", text.strip())` with Python's whitespace set.
    */
  def normalizeWhitespace(c: Column): Column =
    regexp_replace(
      regexp_replace(c, s"^$ws+|$ws+$$", ""),
      s"$ws+", " ")

  /** Filename slug (core/storage/base.py:147-160, minus the wall-clock
    * suffix — partition-file naming replaces it, SURVEY.md §2.1).
    */
  def slug(titleCol: Column, urlCol: Column): Column = {
    val base = lower(trim(coalesce(titleCol, urlCol, lit("scrag-output"))))
    val dashed = regexp_replace(base, "[^a-z0-9]+", "-")
    val stripped = regexp_replace(dashed, "^-+|-+$", "")
    when(stripped === "", lit("scrag-output")).otherwise(stripped)
  }

  /** URL normalization at ingest (core/cli/app.py:436-450): default the
    * scheme to https when absent.
    */
  def normalizeUrl(c: Column): Column = {
    val t = trim(c)
    when(t.rlike("^[A-Za-z][A-Za-z0-9+.-]*://"), t)
      .otherwise(concat(lit("https://"), regexp_replace(t, "^/+", "")))
  }

  /** Storage envelopes (core/storage/base.py:89-123) as single-column
    * projections; the timestamp field is caller-supplied for
    * determinism (the reference stamps utcnow).
    */
  def jsonEnvelope(content: Column, metadata: Column, timestamp: Column): Column =
    to_json(struct(content.as("content"), metadata.as("metadata"),
      timestamp.as("timestamp")))

  def ndjsonEnvelope(content: Column, metadata: Column, timestamp: Column): Column =
    concat_ws("\n",
      to_json(struct(content.as("content"))),
      to_json(struct(metadata.as("metadata"))),
      to_json(struct(timestamp.as("timestamp"))))

  def mdEnvelope(content: Column, title: Column, url: Column,
      author: Column, date: Column): Column =
    concat(
      when(title.isNotNull, concat(lit("# "), title, lit("\n"))).otherwise(lit("")),
      when(url.isNotNull, concat(lit("**Source URL:** "), url, lit("\n"))).otherwise(lit("")),
      when(author.isNotNull, concat(lit("**Author:** "), author, lit("\n"))).otherwise(lit("")),
      when(date.isNotNull, concat(lit("**Date:** "), date, lit("\n"))).otherwise(lit("")),
      lit("---\n\n"), content)
}
