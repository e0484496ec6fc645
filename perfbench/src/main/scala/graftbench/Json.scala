package graftbench

import scala.collection.immutable.ListMap

import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

/** The run's result file: ordered objects of numbers, strings, booleans,
  * sequences and nested objects, written with the json4s that ships with
  * Spark.
  */
object Json {

  def obj(fields: (String, Any)*): ListMap[String, Any] = ListMap(fields: _*)

  def render(v: Any): String = Serialization.write(v.asInstanceOf[AnyRef])(DefaultFormats)

  /** A flat object of integers and integer arrays (the sync expectation). */
  def parseFlat(text: String): Map[String, Any] =
    JsonMethods.parse(text) match {
      case JObject(fields) => fields.map {
        case (k, JInt(n)) => k -> n.toLong
        case (k, JArray(xs)) => k -> xs.collect { case JInt(n) => n.toLong }
        case (k, other) => sys.error(s"unexpected value for $k: $other")
      }.toMap
      case other => sys.error(s"expected an object, got $other")
    }
}
