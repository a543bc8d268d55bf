package perfbench

import java.nio.file.Path
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Expected (row count, order-insensitive row hash) per query output, one
  * section per data directory name (`sf0.1`, `sf0.001`). The values were
  * produced by this engine and confirmed against the DuckDB oracle with
  * `tools/check_oracle.py` on the same tables (see perfbench/README.md).
  * The file is data: a change to the suites updates it by hand. */
final class Goldens(path: Path, section: String) {
  private val known: Map[String, (Long, String)] =
    Option(Main.Json.readTree(path.toFile).get(section)).fold(Map.empty[String, (Long, String)])(
      _.properties().asScala.map { q =>
        q.getKey -> (q.getValue.get(0).asLong() -> q.getValue.get(1).asText())
      }.toMap)

  /** Every output this run produced, for the record. */
  val seen = mutable.LinkedHashMap[String, (Long, String)]()

  /** None when `name`'s output matches its golden value and every earlier
    * output of `name` in this run; otherwise why not. */
  def check(name: String, rows: Long, hash: String): Option[String] = {
    val got = rows -> hash
    val earlier = seen.put(name, got)
    if (earlier.exists(_ != got)) Some(s"output changed within the run: $got after ${earlier.get}")
    else known.get(name) match {
      case Some(want) if want == got => None
      case Some(want) => Some(s"output (rows, hash) = $got, golden $want")
      case None => Some(s"no golden output for $name in section $section")
    }
  }
}
