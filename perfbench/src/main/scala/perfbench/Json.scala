package perfbench

import org.json4s.{DefaultFormats, Extraction}
import org.json4s.jackson.JsonMethods

/** JSON text of maps, sequences and scalars (json4s ships with Spark). */
object Json {
  def apply(v: Any): String = JsonMethods.compact(Extraction.decompose(v)(DefaultFormats))
}
