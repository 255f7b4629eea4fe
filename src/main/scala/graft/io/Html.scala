package graft.io

import scala.collection.mutable.ArrayBuffer

/** Deterministic, dependency-free HTML href/text extraction.
  *
  * The reference engine (iamsmkr/Raphtory) has no HTML layer — this is the
  * ingestion front of our web-scale engine (see SURVEY.md §7.3 and
  * FIXTURES.md §A for the byte-exact spec):
  *
  *  - `extractHrefs(html, baseUrl)`: every `<a ... href="...">` value in
  *    document order, double/single/bare quoted, resolved RFC-3986-minimally
  *    against the page url, fragment stripped, http(s) schemes only.
  *  - `extractText(html)`: markup stripped with `<script>`/`<style>`
  *    contents (and comments) elided, the five basic entities decoded
  *    (`&amp; &lt; &gt; &quot; &#39;`), whitespace runs collapsed to a
  *    single space, trimmed.
  *
  * Both are pure functions of the input bytes — "byte-identical extracted
  * text per url" (BASELINE.json input_hint) is enforced by golden SHA-256
  * tests. Hand-rolled scanner (no regex) so behaviour is fully specified.
  */
object Html {

  /** All href targets of `<a>` elements, in document order, resolved and
    * filtered per the spec. May contain duplicates (multi-edges are kept
    * through extraction; algorithms dedup — SURVEY §7.4). */
  def extractHrefs(html: String, baseUrl: String): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    val n = html.length
    var i = 0
    while (i < n) {
      i = html.indexOf('<', i)
      if (i < 0) return out.toSeq
      // comment?
      if (html.startsWith("<!--", i)) {
        val end = html.indexOf("-->", i + 4)
        i = if (end < 0) n else end + 3
      } else {
        val (tagName, attrEnd) = scanTag(html, i)
        if (tagName == "a" && attrEnd >= 0) {
          findAttr(html, i + 1 + tagName.length, attrEnd, "href").foreach { raw =>
            resolve(raw, baseUrl).foreach(out += _)
          }
        }
        i = if (attrEnd < 0) n else attrEnd + 1
      }
    }
    out.toSeq
  }

  /** Returns (lower-cased tag name, index of closing '>') for the tag
    * starting at `lt` (which points at '<'); attrEnd is -1 if unterminated. */
  private def scanTag(html: String, lt: Int): (String, Int) = {
    var j = lt + 1
    val n = html.length
    if (j < n && html.charAt(j) == '/') j += 1
    val nameStart = j
    while (j < n && (html.charAt(j).isLetterOrDigit)) j += 1
    val name = html.substring(nameStart, j).toLowerCase
    // find the closing '>' honouring quoted attribute values
    var k = j
    var quote: Char = 0
    var end = -1
    while (k < n && end < 0) {
      val c = html.charAt(k)
      if (quote != 0) { if (c == quote) quote = 0 }
      else if (c == '"' || c == '\'') quote = c
      else if (c == '>') end = k
      k += 1
    }
    (name, end)
  }

  /** Scan attributes in html[from, end) for `name` (case-insensitive);
    * returns the raw (entity-decoded) value. Handles name="v", name='v',
    * name=v (bare, terminated by whitespace or '>'), and valueless attrs. */
  private def findAttr(html: String, from: Int, end0: Int, name: String): Option[String] = {
    val end = if (end0 < 0) html.length else end0
    var i = from
    while (i < end) {
      // skip whitespace and '/'
      while (i < end && (html.charAt(i).isWhitespace || html.charAt(i) == '/')) i += 1
      if (i >= end) return None
      val aStart = i
      while (i < end && !html.charAt(i).isWhitespace && html.charAt(i) != '=' && html.charAt(i) != '>') i += 1
      val aName = html.substring(aStart, i).toLowerCase
      // skip whitespace before '='
      var j = i
      while (j < end && html.charAt(j).isWhitespace) j += 1
      if (j < end && html.charAt(j) == '=') {
        j += 1
        while (j < end && html.charAt(j).isWhitespace) j += 1
        val (value, next) =
          if (j < end && (html.charAt(j) == '"' || html.charAt(j) == '\'')) {
            val q = html.charAt(j)
            val close = html.indexOf(q, j + 1)
            val c = if (close < 0 || close > end) end else close
            (html.substring(j + 1, c), c + 1)
          } else {
            var k = j
            while (k < end && !html.charAt(k).isWhitespace) k += 1
            (html.substring(j, k), k)
          }
        if (aName == name) return Some(decodeEntities(value))
        i = next
      } else {
        if (aName == name) return Some("") // valueless
        i = j
      }
    }
    None
  }

  /** RFC-3986-minimal resolution: absolute, scheme-relative (`//`),
    * root-relative (`/`), and relative references; strips the fragment;
    * returns None unless the final scheme is http/https or the value is
    * empty/fragment-only. */
  private def resolve(rawHref: String, baseUrl: String): Option[String] = {
    val href0 = rawHref.trim
    if (href0.isEmpty) return None
    val noFrag = { val h = href0.indexOf('#'); if (h >= 0) href0.substring(0, h) else href0 }
    if (noFrag.isEmpty) return None // fragment-only: self-reference, dropped
    val schemeEnd = schemeLength(noFrag)
    val resolved =
      if (schemeEnd > 0) noFrag // absolute
      else {
        val bScheme = baseUrl.substring(0, schemeLength(baseUrl).max(0))
        if (noFrag.startsWith("//")) bScheme + ":" + noFrag
        else {
          val auth = authority(baseUrl)
          if (noFrag.startsWith("/")) bScheme + "://" + auth + removeDotSegments(noFrag)
          else {
            // RFC 3986 §5.3: merge against the base PATH only — a '/'
            // inside the base's query must not become the merge directory
            val bPath0 = pathOf(baseUrl)
            val bq = bPath0.indexOf('?')
            val bPath = if (bq >= 0) bPath0.substring(0, bq) else bPath0
            val dir = bPath.substring(0, bPath.lastIndexOf('/') + 1) // "" if no '/'
            val merged = if (dir.isEmpty) "/" + noFrag else dir + noFrag
            bScheme + "://" + auth + removeDotSegments(merged)
          }
        }
      }
    val s = schemeLength(resolved)
    if (s > 0) {
      val scheme = resolved.substring(0, s).toLowerCase
      if (scheme == "http" || scheme == "https") Some(resolved) else None
    } else None
  }

  /** Length of the scheme if the string begins with one (`alpha
    * (alpha|digit|+|-|.)* ":"`), else -1. */
  private def schemeLength(s: String): Int = {
    if (s.isEmpty || !s.charAt(0).isLetter) return -1
    var i = 1
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == ':') return i
      if (!(c.isLetterOrDigit || c == '+' || c == '-' || c == '.')) return -1
      i += 1
    }
    -1
  }

  private def authority(url: String): String = {
    val s = schemeLength(url)
    if (s < 0 || !url.startsWith("://", s)) return ""
    val start = s + 3
    var i = start
    while (i < url.length && url.charAt(i) != '/' && url.charAt(i) != '?' && url.charAt(i) != '#') i += 1
    url.substring(start, i)
  }

  /** Path component of an absolute url (starts at the first '/' after the
    * authority); "" if none. Query string is kept with the path (minimal). */
  private def pathOf(url: String): String = {
    val s = schemeLength(url)
    if (s < 0 || !url.startsWith("://", s)) return url
    var i = s + 3
    while (i < url.length && url.charAt(i) != '/') i += 1
    if (i >= url.length) "" else url.substring(i)
  }

  /** RFC 3986 §5.2.4 remove_dot_segments. */
  def removeDotSegments(path: String): String = {
    val out = ArrayBuffer.empty[String]
    var in = path
    while (in.nonEmpty) {
      if (in.startsWith("../")) in = in.substring(3)
      else if (in.startsWith("./")) in = in.substring(2)
      else if (in.startsWith("/./")) in = "/" + in.substring(3)
      else if (in == "/.") in = "/"
      else if (in.startsWith("/../")) { in = "/" + in.substring(4); if (out.nonEmpty) out.remove(out.length - 1) }
      else if (in == "/..") { in = "/"; if (out.nonEmpty) out.remove(out.length - 1) }
      else if (in == "." || in == "..") in = ""
      else {
        val start = if (in.startsWith("/")) 1 else 0
        var i = start
        while (i < in.length && in.charAt(i) != '/') i += 1
        out += in.substring(0, i)
        in = in.substring(i)
      }
    }
    out.mkString
  }

  /** Decode exactly the five spec'd entities (FIXTURES.md §A). */
  private def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        if (s.startsWith("&amp;", i)) { sb.append('&'); i += 5 }
        else if (s.startsWith("&lt;", i)) { sb.append('<'); i += 4 }
        else if (s.startsWith("&gt;", i)) { sb.append('>'); i += 4 }
        else if (s.startsWith("&quot;", i)) { sb.append('"'); i += 6 }
        else if (s.startsWith("&#39;", i)) { sb.append('\''); i += 5 }
        else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Visible text: tags stripped, script/style/comments elided, entities
    * decoded, whitespace collapsed, trimmed. Byte-exact per FIXTURES.md. */
  def extractText(html: String): String = {
    val sb = new java.lang.StringBuilder(html.length)
    val n = html.length
    var i = 0
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        if (html.startsWith("<!--", i)) {
          val end = html.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
        } else {
          val (name, attrEnd) = scanTag(html, i)
          if (attrEnd < 0) { i = n }
          else if ((name == "script" || name == "style") && html.charAt(i + 1) != '/') {
            // elide through matching close tag
            val close = indexOfCloseTag(html, attrEnd + 1, name)
            i = close
          } else i = attrEnd + 1
        }
      } else { sb.append(c); i += 1 }
    }
    collapseWhitespace(decodeEntities(sb.toString))
  }

  /** Index just past `</name ... >` (case-insensitive), or html.length. */
  private def indexOfCloseTag(html: String, from: Int, name: String): Int = {
    val lower = html // scan manually, compare case-insensitively
    var i = from
    val n = html.length
    val target = "</" + name
    while (i < n) {
      val at = lower.indexOf('<', i)
      if (at < 0) return n
      if (at + target.length <= n && lower.substring(at, at + target.length).equalsIgnoreCase(target)) {
        val gt = html.indexOf('>', at)
        return if (gt < 0) n else gt + 1
      }
      i = at + 1
    }
    n
  }

  private def collapseWhitespace(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var pendingSpace = false
    var started = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c.isWhitespace) { if (started) pendingSpace = true }
      else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c); started = true
      }
      i += 1
    }
    sb.toString
  }
}
