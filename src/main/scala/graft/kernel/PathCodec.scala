package graft.kernel

import org.apache.hadoop.fs.Path

/**
 * Delta `add`/`remove`/`cdc` `path` fields are RELATIVE URLS — percent-
 * encoded (PROTOCOL.md "Add File and Remove File"). A partition dir whose
 * ON-DISK name is `x=A%2FA` (hive-escaped "A/A") is recorded in the log as
 * `x=A%252FA`; readers must URI-decode before touching the filesystem and
 * writers must URI-encode what they record (reference: delta-rs joins add
 * paths onto the table URL, `crates/core/src/logstore/mod.rs` `to_uri`).
 * Getting this wrong silently breaks cross-implementation reads of any
 * table with special characters in partition values or file names.
 */
object PathCodec {

  /** Log-recorded relative URL → literal filesystem path fragment. */
  def decode(rel: String): String =
    try {
      val u = new java.net.URI(rel)
      // scheme'd/absolute URIs are handled by the caller via Path(URI)
      if (u.isAbsolute) rel
      // a parsed query/fragment means a literal legacy path containing
      // '?'/'#' (a compliant writer would have percent-encoded them) —
      // u.getPath would silently TRUNCATE at the separator
      else if (u.getRawQuery != null || u.getRawFragment != null) rel
      else Option(u.getPath).getOrElse(rel)
    } catch { case _: Exception => rel } // tolerate non-URI legacy paths

  /** Resolve a log-recorded (percent-encoded relative URL) path against
    * `root`; scheme'd absolute URIs pass through Path(URI). */
  def resolve(root: Path, relative: String): Path = {
    try {
      val uri = new java.net.URI(relative)
      if (uri.isAbsolute) return new Path(uri)
    } catch { case _: Exception => }
    val rel = decode(relative)
    // scheme-free ctor: a decoded name with ':' in its first segment
    // ("backup:final.parquet" — legal; encode round-trips it as %3A) must
    // not be URI-parsed, where "backup" reads as a scheme and Path(String)
    // throws — making a table this engine itself wrote unreadable on every
    // scan/DML/FSCK path
    val p = new Path(null, null, rel)
    if (p.isAbsolute) p else new Path(root, p)
  }

  /** Escape Hadoop-glob metacharacters in a path handed to `spark.read`:
    * the reader glob-expands its path arguments, so a file legally named
    * `report [2020].parquet` (foreign writers, convert_to_delta inputs)
    * would fail resolution, and a literal `*` would silently match OTHER
    * files. Backslash-escape, which Hadoop's GlobPattern honors. */
  def globEscape(p: String): String = {
    val sb = new StringBuilder(p.length + 8)
    p.foreach { c =>
      if (c == '\\' || c == '[' || c == ']' || c == '{' || c == '}' ||
          c == '*' || c == '?') sb += '\\'
      sb += c
    }
    sb.toString
  }

  /** Literal filesystem path fragment → log-recordable relative URL.
    * Encoded via a "./" prefix: a ':' in the FIRST segment otherwise makes
    * the multi-arg URI constructor parse the input as an opaque scheme'd
    * URI whose getRawPath is NULL ("backup:final.parquet" → AddFile(path
    * = null) committed, file orphaned, VACUUM deletes it) — and a
    * digit-leading first segment threw into the raw-string fallback,
    * leaving a ':' un-encoded. Any first-segment colon is then explicitly
    * %3A-escaped: readers parse a leading-segment colon as a URL scheme. */
  def encode(relFsPath: String): String =
    try {
      val enc = new java.net.URI(null, null, "./" + relFsPath, null)
        .getRawPath.stripPrefix("./")
      val slash = enc.indexOf('/')
      val first = if (slash < 0) enc else enc.take(slash)
      if (first.contains(':'))
        first.replace(":", "%3A") + (if (slash < 0) "" else enc.drop(slash))
      else enc
    } catch { case _: Exception => relFsPath }

  /** Strict RFC 3986 percent-encoding over the unreserved set
    * (A-Z a-z 0-9 - _ . ~), uppercase hex — the canonical form every
    * signing object-store verifier (AWS/MinIO SigV4, Azure Shared Key,
    * lakeFS) reconstructs. URLEncoder is the WRONG tool: it encodes '~'
    * and leaves '*' bare, so a path containing either signs one form and
    * verifies against another. ONE shared implementation — the HTTP
    * clients must never drift apart on the signed form. */
  def rfc3986(s: String): String =
    s.getBytes("UTF-8").map { b =>
      val c = (b & 0xff).toChar
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
          (c >= '0' && c <= '9') || c == '-' || c == '_' || c == '.' || c == '~')
        c.toString
      else f"%%${b & 0xff}%02X"
    }.mkString

  /** [[rfc3986]] per path segment, keeping the '/' separators. */
  def rfc3986Key(key: String): String =
    key.split("/", -1).map(rfc3986).mkString("/")

  /** Strict RFC 3986 percent-DECODER — the decode-side counterpart of
    * [[rfc3986]], and the same single-implementation rule: only %XX
    * escapes decode; '+' stays a literal plus. URLDecoder applies the
    * form-encoding '+'→space rule, so canonicalizing a signed query with
    * it would sign a different form than the service verifies
    * (SignatureDoesNotMatch on any literal '+'). Malformed escapes pass
    * through literally rather than throwing mid-signature. */
  def pctDecode(s: String): String = {
    val out = new java.io.ByteArrayOutputStream(s.length)
    // literal chars are buffered as a RUN and UTF-8-encoded whole: per-char
    // encoding turns each half of a surrogate pair (any non-BMP literal)
    // into the replacement byte, corrupting the canonical form being signed
    val run = new java.lang.StringBuilder
    def flushRun(): Unit = if (run.length > 0) {
      out.write(run.toString.getBytes("UTF-8")); run.setLength(0)
    }
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val hi = if (c == '%' && i + 2 < s.length)
        Character.digit(s.charAt(i + 1), 16) else -1
      val lo = if (hi >= 0) Character.digit(s.charAt(i + 2), 16) else -1
      if (lo >= 0) { flushRun(); out.write(hi * 16 + lo); i += 3 }
      else { run.append(c); i += 1 }
    }
    flushRun()
    new String(out.toByteArray, "UTF-8")
  }
}
