package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Minimal JSON bridge between run.py and the harness JVM:
  * Jackson (already on Spark's classpath) parses into plain Scala
  * values (Map / Seq / Long / Double / String / Boolean / null) and
  * serialises them back. */
object Json {
  private val mapper = new ObjectMapper()

  private def toScala(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      m.asScala.iterator.map { case (k, x) => String.valueOf(k) -> toScala(x) }
        .toMap
    case l: java.util.List[_] => l.asScala.map(toScala).toVector
    case i: java.lang.Integer => i.longValue
    case other => other
  }

  private def toJava(v: Any): AnyRef = v match {
    case null => null
    case None => null
    case Some(x) => toJava(x)
    case m: scala.collection.Map[_, _] =>
      val o = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => o.put(String.valueOf(k), toJava(x)) }
      o
    case s: Iterable[_] =>
      val a = new java.util.ArrayList[AnyRef]()
      s.foreach(x => a.add(toJava(x)))
      a
    case a: Array[_] => toJava(a.toSeq)
    case n: Int => java.lang.Long.valueOf(n.toLong)
    case n: Long => java.lang.Long.valueOf(n)
    case d: Double => java.lang.Double.valueOf(d)
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case x: AnyRef => x
  }

  def parse(text: String): Any = toScala(mapper.readValue(text, classOf[Object]))

  def read(path: String): Map[String, Any] =
    parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")).asInstanceOf[Map[String, Any]]

  def write(v: Any): String = mapper.writeValueAsString(toJava(v))

  def writeFile(path: String, v: Any): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      write(v).getBytes("UTF-8"))

  // typed accessors over parsed values
  implicit class Obj(val m: Map[String, Any]) extends AnyVal {
    def str(k: String): String = String.valueOf(m(k))
    def long(k: String): Long = m(k) match {
      case n: java.lang.Number => n.longValue
      case s => s.toString.toLong
    }
    def obj(k: String): Map[String, Any] = m(k).asInstanceOf[Map[String, Any]]
    def arr(k: String): Vector[Any] = m(k).asInstanceOf[Vector[Any]]
    def objs(k: String): Vector[Map[String, Any]] =
      arr(k).map(_.asInstanceOf[Map[String, Any]])
  }
}

