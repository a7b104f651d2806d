package graft.functions

import java.util.Locale

/** The whitespace tokens of one doc, lowercased: the one tokenizer of the
  * doc signatures ([[DedupKernels.minhashSignature]], [[DedupKernels.simhash]]).
  * Yields exactly the non-empty tokens of
  * `text.toLowerCase(Locale.ROOT).split("\\s+")`, as char offsets
  * [`start`, `end`) into the lowercased doc, without building a token
  * string. The doc is lowercased whole, which keeps the context rules of
  * `toLowerCase` (e.g. the final sigma).
  *
  * Token separators are the regex `\s` set [ \t\n\x0B\f\r] only: the
  * separators `Character.isWhitespace` adds (U+001C–U+001F, U+2003) and
  * U+00A0 are token chars.
  */
private[graft] final class TokenScan(text: String) {
  private val lower = text.toLowerCase(Locale.ROOT)
  private val len = lower.length

  /** The current token's char offsets, after [[next]] returned true. */
  var start = 0
  var end = 0

  /** Advances to the next token; false once the doc has no more. */
  def next(): Boolean = {
    var i = end
    while (i < len && TokenScan.isSpace(lower.charAt(i))) i += 1
    if (i == len) return false
    start = i
    while (i < len && !TokenScan.isSpace(lower.charAt(i))) i += 1
    end = i
    true
  }

  /** FNV-1a fold of chars [`from`, `until`) onto `h`. */
  @inline def fnv(h0: Long, from: Int, until: Int): Long = {
    var h = h0
    var i = from
    while (i < until) { h ^= lower.charAt(i); h *= TokenScan.FnvPrime; i += 1 }
    h
  }
}

private[graft] object TokenScan {
  val FnvBasis = 0xcbf29ce484222325L
  val FnvPrime = 0x100000001b3L

  /** The regex `\s` set: ' ' and \t \n \x0B \f \r (9–13). */
  @inline def isSpace(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')
}
