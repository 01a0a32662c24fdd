package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper

/** JSON built from Java collections, written with the Jackson that ships
  * with Spark. Scala collections are converted by the callers.
  */
object Json {
  private val mapper = new ObjectMapper()

  def obj(kvs: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kvs.foreach { case (k, v) => m.put(k, v) }
    m
  }

  def arr(xs: Any*): java.util.List[Any] = {
    val l = new java.util.ArrayList[Any]()
    xs.foreach(l.add)
    l
  }

  def write(path: java.nio.file.Path, value: Any): Unit =
    mapper.writerWithDefaultPrettyPrinter().writeValue(path.toFile, value)

  def read(path: java.nio.file.Path): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(path.toFile)
}
