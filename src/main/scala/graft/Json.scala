package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.nio.file.{Files, Paths}

/** The one JSON writer for the engine's artifacts (Verify's
  * oracle_sql.json / _failed.json, the bench dump and its stdout
  * line): Jackson from Spark's own jars, which escapes quotes,
  * backslashes and every control character. Scala maps serialize as
  * objects in their iteration order. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(value: Any): String = mapper.writeValueAsString(value)

  def writeFile(path: String, value: Any): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.writeString(p, write(value))
  }
}
