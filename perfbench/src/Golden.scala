package perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Golden battery digests, `perfbench/golden/battery-sf<sf>.json`:
  * `{"fixture_seed": .., "sf": .., "digests": {"<query>": "<digest>"}}`,
  * recorded by `record_golden.py` after the DuckDB oracle passed on the
  * same generated input. */
object Golden {
  def path(sf: Double): String = s"perfbench/golden/battery-sf$sf.json"

  def load(sf: Double): Map[String, String] = {
    val f = new java.io.File(path(sf))
    if (!f.exists) Map.empty
    else {
      implicit val fmt: Formats = DefaultFormats
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try (JsonMethods.parse(src.mkString) \ "digests").extract[Map[String, String]]
      finally src.close()
    }
  }
}
