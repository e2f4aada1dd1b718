package graft.extract

import java.util.Locale

/** Streaming HTML tokenizer behind the main-content, link, table and
  * outline extractors: a pull cursor over the source string that keeps
  * no DOM and allocates no token objects. `next()` returns the kind of
  * the token it stopped on and leaves that token's data in the fields:
  *  - `Text`: characters `[start, end)` of `text` — either a run of the
  *    source (up to the next `<` or `&`) or a decoded character
  *    reference;
  *  - `StartTag` / `EndTag`: `name` (lowercased with `Locale.ROOT`),
  *    `selfClosed` (the tag ends in `/>`), `terminated` (false when input
  *    ends before the tag's `>`) and, lazily, `attr(name)`;
  *  - `End`: the input is exhausted (every later call returns `End`).
  *
  * Rules every consumer inherits:
  *  - Comments `<!--…-->`, declarations `<!…>` and processing
  *    instructions `<?…?>` yield no token. An unterminated comment or
  *    declaration consumes the rest of the input; an unterminated `<?`
  *    ends at the first `>` (HTML5 bogus-comment semantics), or at EOF.
  *  - A tag ends at the first `>` outside a quoted attribute value; a tag
  *    truncated before its `>` consumes the rest of the input. A tag with
  *    no name (`</>`, `</ x>`) yields no token.
  *  - `<script>` and `<style>` yield no token; unless self-closed, the
  *    body up to the matching close tag is skipped verbatim, and an
  *    unclosed one consumes the rest of the input.
  *  - `&` starts a character reference — named (`amp lt gt quot apos
  *    nbsp`), decimal `&#N;` or hex `&#xN;` — whose `;` lies within 10
  *    characters; any other `&`, and any `<` that starts none of the
  *    constructs above, is text.
  *  - Time is linear in the input length: every search cursor only moves
  *    forward. Never throws.
  */
final class HtmlTokenizer(html: String) {
  import HtmlTokenizer._

  private val n = html.length
  private var pos = 0
  // next '&' and next "?>" at or after the scan position, advanced lazily:
  // -1 once none is left, so a run of misses never rescans the tail
  private var ampNext = 0
  private var piNext = 0
  private var entityEnd = 0
  private var attrFrom = 0
  private var attrUntil = 0

  var text: String = html
  var start = 0
  var end = 0
  var name = ""
  var selfClosed = false
  var terminated = true

  /** Advances to the next token and returns its kind. */
  def next(): Int = {
    var kind = Skip
    while (kind == Skip && pos < n) kind = step()
    if (kind == Skip) End else kind
  }

  /** Value of the current tag's attribute `key` (lowercase; matched
    * case-insensitively), quoted with `"` or `'` or unquoted to the next
    * whitespace, with character references decoded; None when absent.
    */
  def attr(key: String): Option[String] = {
    val until = attrUntil
    var i = attrFrom
    while (i < until) {
      while (i < until && !Character.isLetter(html.charAt(i))) i += 1
      val nameStart = i
      while (i < until && (Character.isLetterOrDigit(html.charAt(i)) || html.charAt(i) == '-')) i += 1
      if (i == nameStart) return None
      val matches = i - nameStart == key.length &&
        html.regionMatches(true, nameStart, key, 0, key.length)
      while (i < until && Character.isWhitespace(html.charAt(i))) i += 1
      if (i < until && html.charAt(i) == '=') {
        i += 1
        while (i < until && Character.isWhitespace(html.charAt(i))) i += 1
        if (i < until && (html.charAt(i) == '"' || html.charAt(i) == '\'')) {
          val q = html.charAt(i)
          var stop = i + 1
          while (stop < until && html.charAt(stop) != q) stop += 1
          if (matches) return Some(decodeAll(i + 1, stop))
          i = if (stop == until) until else stop + 1
        } else {
          val vs = i
          while (i < until && !Character.isWhitespace(html.charAt(i)) && html.charAt(i) != '>') i += 1
          if (matches) return Some(decodeAll(vs, i))
        }
      } // bare attribute (no '='): nothing to return for it
    }
    None
  }

  /** Consumes one construct at `pos`; returns its token kind, or Skip. */
  private def step(): Int = {
    val i = pos
    val c = html.charAt(i)
    if (c == '<' && i + 1 < n) {
      val c1 = html.charAt(i + 1)
      if (c1 == '!') {
        if (html.startsWith("--", i + 2)) {
          val close = html.indexOf("-->", i + 4)
          pos = if (close < 0) n else close + 3
        } else {
          val gt = tagEnd(i + 2)
          pos = if (gt < 0) n else gt + 1
        }
        Skip
      } else if (c1 == '?') {
        if (piNext >= 0 && piNext < i + 2) piNext = html.indexOf("?>", i + 2)
        pos = if (piNext >= 0) piNext + 2 else {
          val gt = html.indexOf('>', i + 2)
          if (gt < 0) n else gt + 1
        }
        Skip
      } else if (c1 == '/' || Character.isLetter(c1)) tag(i, c1 == '/')
      else textRun(i, i + 1)
    } else if (c == '&') {
      val decoded = decodeEntity(i, n)
      if (decoded == null) textRun(i, i + 1)
      else {
        text = decoded; start = 0; end = decoded.length; pos = entityEnd
        Text
      }
    } else textRun(i, i + 1)
  }

  private def textRun(from: Int, searchFrom: Int): Int = {
    val lt = html.indexOf('<', searchFrom)
    if (ampNext >= 0 && ampNext < searchFrom) ampNext = html.indexOf('&', searchFrom)
    var until = if (lt < 0) n else lt
    if (ampNext >= 0 && ampNext < until) until = ampNext
    text = html; start = from; end = until; pos = until
    Text
  }

  private def tag(i: Int, closing: Boolean): Int = {
    val nameStart = if (closing) i + 2 else i + 1
    var j = nameStart
    while (j < n && Character.isLetterOrDigit(html.charAt(j))) j += 1
    val gt = tagEnd(j)
    terminated = gt >= 0
    selfClosed = gt > j && html.charAt(gt - 1) == '/'
    pos = if (terminated) gt + 1 else n
    if (j == nameStart) return Skip
    name = html.substring(nameStart, j).toLowerCase(Locale.ROOT)
    attrFrom = j
    attrUntil = if (terminated) gt else n
    if (name == "script" || name == "style") {
      if (!closing && !selfClosed) {
        val close = indexOfIgnoreCase(html, if (name == "script") "</script" else "</style", pos)
        pos = if (close < 0) n else {
          val gt2 = html.indexOf('>', close)
          if (gt2 < 0) n else gt2 + 1
        }
      }
      Skip
    } else if (closing) EndTag
    else StartTag
  }

  /** Index of the `>` that ends a tag body starting at `from`, skipping
    * quoted attribute values; -1 when the input ends first.
    */
  private def tagEnd(from: Int): Int = {
    var quote: Char = 0
    var k = from
    while (k < n) {
      val ch = html.charAt(k)
      if (quote != 0) { if (ch == quote) quote = 0 }
      else if (ch == '"' || ch == '\'') quote = ch
      else if (ch == '>') return k
      k += 1
    }
    -1
  }

  /** Decodes the character reference at `html(i) == '&'` whose `;` lies
    * before `limit`, setting `entityEnd` past it; null when there is none.
    */
  private def decodeEntity(i: Int, limit: Int): String = {
    val stop = math.min(limit, i + 11)
    var semi = i + 1
    while (semi < stop && html.charAt(semi) != ';') semi += 1
    if (semi >= stop) return null
    entityEnd = semi + 1
    if (html.startsWith("#x", i + 1) || html.startsWith("#X", i + 1)) codePoint(i + 3, semi, 16)
    else if (html.startsWith("#", i + 1)) codePoint(i + 2, semi, 10)
    else namedEntities.getOrElse(html.substring(i + 1, semi), null)
  }

  private def codePoint(from: Int, until: Int, radix: Int): String =
    try new String(Character.toChars(Integer.parseInt(html.substring(from, until), radix)))
    catch { case _: Exception => null }

  private def decodeAll(from: Int, until: Int): String = {
    val sb = new java.lang.StringBuilder(until - from)
    var i = from
    while (i < until) {
      val decoded = if (html.charAt(i) == '&') decodeEntity(i, until) else null
      if (decoded != null) { sb.append(decoded); i = entityEnd }
      else { sb.append(html.charAt(i)); i += 1 }
    }
    sb.toString
  }
}

object HtmlTokenizer {
  final val End = 0
  final val Text = 1
  final val StartTag = 2
  final val EndTag = 3
  private final val Skip = -1

  private val namedEntities = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"",
    "apos" -> "'", "nbsp" -> " ")

  /** Case-insensitive indexOf of a lowercase `needle`, without copying. */
  private def indexOfIgnoreCase(s: String, needle: String, from: Int): Int = {
    val m = needle.length
    var i = from
    while (i + m <= s.length) {
      var j = 0
      while (j < m && Character.toLowerCase(s.charAt(i + j)) == needle.charAt(j)) j += 1
      if (j == m) return i
      i += 1
    }
    -1
  }
}

/** Whitespace-collapsing text accumulator shared by the HTML extractors:
  * each whitespace run becomes one space, leading whitespace drops, and
  * `result()` trims the single trailing space a run can leave.
  */
private[extract] final class CollapsedText {
  private val sb = new java.lang.StringBuilder
  private var lastWasSpace = true

  def length: Int = sb.length

  /** Appends the current `Text` token of `tok`; each non-whitespace run
    * lands as one bulk copy from the token's string. */
  def append(tok: HtmlTokenizer): Unit = {
    val s = tok.text
    val until = tok.end
    var i = tok.start
    while (i < until) {
      if (Character.isWhitespace(s.charAt(i))) {
        if (!lastWasSpace) { sb.append(' '); lastWasSpace = true }
        i += 1
      } else {
        var j = i + 1
        while (j < until && !Character.isWhitespace(s.charAt(j))) j += 1
        sb.append(s, i, j)
        lastWasSpace = false
        i = j
      }
    }
  }

  def result(): String = {
    val m = sb.length
    if (m > 0 && sb.charAt(m - 1) == ' ') sb.substring(0, m - 1) else sb.toString
  }

  def clear(): Unit = { sb.setLength(0); lastWasSpace = true }
}
