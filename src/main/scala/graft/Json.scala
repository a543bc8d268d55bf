package graft

import com.fasterxml.jackson.core.io.JsonStringEncoder

/** Formatting for the hand-built JSON records of Bench, Verify and the
  * probes. */
object Json {

  /** `s` escaped for a JSON string literal (quote, backslash and every
    * control character), without the surrounding quotes. */
  def jstr(s: String): String =
    new String(JsonStringEncoder.getInstance.quoteAsString(s))

  /** Three decimals in Locale.ROOT: a de_DE comma separator is invalid
    * JSON. */
  def f3(x: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))
}
