package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference's scalar transformation library (`__refine_metadata` and
  * friends) as composable Column expressions — SURVEY §2.7 F1–F16. Every
  * function is built from codegen'd `org.apache.spark.sql.functions`
  * (no UDFs), so the whole refine chain stays inside whole-stage codegen.
  * Citations point into /root/reference.
  */
object Refine {

  /** utils.py:8 — the default channel-description blurb YouTube injects
    * (exact sentinel; F4 blanking only fires on byte-identical text). */
  val DefaultDesc: String =
    "Enjoy the videos and music you love, upload original content, and " +
      "share it all with friends, family, and the world on YouTube."

  /** F1 — video-ID validation: exactly 11 chars of [0-9A-Za-z_-]
    * (utils.py:19-24). */
  def isValidVideoId(c: Column): Column =
    length(c) === 11 && c.rlike("^[0-9A-Za-z_-]{11}$")

  /** F2 — strip the query string: url.split("?")[0]
    * (cmds/archive.py:88). */
  def stripQuery(c: Column): Column = substring_index(c, "?", 1)

  /** F3 — file-extension extraction: url.split('.')[-1].split('?')[0]
    * (cmds/archive.py:211). */
  def fileExt(c: Column): Column =
    substring_index(substring_index(c, ".", -1), "?", 1)

  /** F4 — blank the default description (cmds/archive.py:105 with
    * utils.py:8); sentinel equality → empty string. */
  def blankDefault(c: Column, sentinel: String): Column =
    when(c === lit(sentinel), lit("")).otherwise(c)

  /** F5 — null-coalescing preference chains (cmds/archive.py:114-117,
    * 145, 148): first non-null wins. */
  def prefer(cols: Column*): Column = coalesce(cols: _*)

  /** F7 — yt-dlp upload_date "YYYYMMDD" → timestamp
    * (cmds/archive.py:112 via dateutil; permissive — malformed → NULL,
    * matching the caught-exception behavior, hence try_to_timestamp
    * under ANSI mode). */
  def parseUploadDate(c: Column): Column =
    try_to_timestamp(c, lit("yyyyMMdd"))

  /** F7 — ISO-8601-ish permissive parse (Takeout `time`,
    * cmds/archive.py:339). Accepts 'Z' suffix. */
  def parseIsoTs(c: Column): Column =
    try_to_timestamp(regexp_replace(c, "Z$", "+00:00"))

  /** F8 — first category: categories[0] (cmds/archive.py:113); null-safe
    * on missing/empty arrays. */
  def headCategory(c: Column): Column =
    when(c.isNotNull && size(c) > 0, element_at(c, 1))

  /** F9 — sentinel→NULL: comment parent "root" → null
    * (cmds/archive.py:183). */
  def rootToNull(c: Column): Column =
    when(c === "root", lit(null).cast("string")).otherwise(c)

  /** F10 — video id out of a watch URL: text after "v=" constrained to the
    * ID alphabet (cmds/archive.py:334). */
  def extractWatchId(c: Column): Column =
    regexp_extract(c, "v=([0-9A-Za-z_-]{11})", 1)

  /** F11 — whitespace scrub in ids (cmds/archive.py:304). */
  def scrubWhitespace(c: Column): Column = regexp_replace(c, " ", "")

  /** F11 — local playlist-ID synthesis: "PLLOCAL_" + title with spaces →
    * underscores (cmds/archive.py:233). */
  def synthPlaylistId(title: Column): Column =
    concat(lit("PLLOCAL_"), regexp_replace(title, " ", "_"))

  /** F11 — trim the Takeout " videos" filename suffix
    * (cmds/archive.py:236). */
  def trimVideosSuffix(stem: Column): Column =
    regexp_replace(stem, " videos$", "")

  /** F12 — seconds → human duration with floor-to-1-decimal
    * (utils.py:27-39): <60 s, <3600 floor(m*10)/10 min, else hr. */
  def fmtDuration(sec: Column): Column = {
    def f1(x: Column): Column = floor(x * 10) / 10
    when(sec < 60, concat(sec.cast("string"), lit(" seconds")))
      .when(sec < 3600,
        concat(f1(sec / 60).cast("string"), lit(" minutes")))
      .otherwise(concat(f1(sec / 3600).cast("string"), lit(" hours")))
  }

  /** F13 — ANSI-escape stripping: the reference's full ANSI_ESCAPE
    * pattern (utils.py:12,54-55) — anchored on the ESC byte, so plain
    * text like "[2m" is never stripped, and two-byte escapes (ESC + one
    * of @-Z\-_) are removed too, not just CSI...m color codes. */
  def stripAnsi(c: Column): Column =
    regexp_replace(c, "\u001B(?:[@-Z\\\\-_]|\\[[0-?]*[ -/]*[@-~])", "")

  /** F16 — yes/maybe/no confirm classification with the reference's exact
    * word lists (utils.py:14-16,45-50): 1 = YES (confirm returns True),
    * -1 = MAYBE ("I'll let you think about it"), 0 = NO, -2 = anything
    * else ("What ?") — the last three all return False in the reference;
    * the codes keep the four reply classes distinguishable. */
  def yesNo(c: Column): Column = {
    val l = lower(c)
    when(l.isin("yes", "y", "yep", "sure", "ight", "ok", "okey", "go ahead",
      "cool", "ye", "yeh", "yee", "do it", "why not"), 1)
      .when(l.isin("maybe", "perhaps", "possibly", "conceivably",
        "probably"), -1)
      .when(l.isin("no", "n", "nah", "nou", "dont", "don't"), 0)
      .otherwise(-2)
  }
}
