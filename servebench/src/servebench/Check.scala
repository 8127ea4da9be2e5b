package servebench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Answer comparison on parsed JSON: same structure, same strings, numbers
  * equal to a relative 1e-9 (engines may sum in another order). */
object Check {
  private val mapper = new ObjectMapper()
  def parse(b: Array[Byte]): JsonNode = mapper.readTree(b)
  def parse(s: String): JsonNode = mapper.readTree(s)

  def close(a: Double, b: Double): Boolean =
    (a.isNaN && b.isNaN) || a == b || math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  def same(a: JsonNode, b: JsonNode): Boolean =
    if (a.isNumber && b.isNumber) close(a.asDouble, b.asDouble)
    else if (a.isArray && b.isArray)
      a.size == b.size && (0 until a.size).forall(i => same(a.get(i), b.get(i)))
    else if (a.isObject && b.isObject)
      a.size == b.size && a.fieldNames.asScala.forall(f => b.has(f) && same(a.get(f), b.get(f)))
    else a == b

  /** A ranked result list equal up to the order of entries whose ranking
    * key ties within tolerance. */
  def sameRanked(a: JsonNode, b: JsonNode, key: String): Boolean = {
    def groups(n: JsonNode): Vector[Vector[JsonNode]] = {
      val xs = n.elements.asScala.toVector
      xs.foldLeft(Vector.empty[Vector[JsonNode]]) { (acc, x) =>
        if (acc.nonEmpty && close(acc.last.head.get(key).asDouble, x.get(key).asDouble))
          acc.init :+ (acc.last :+ x)
        else acc :+ Vector(x)
      }
    }
    a.isArray && b.isArray && a.size == b.size && {
      val (ga, gb) = (groups(a), groups(b))
      ga.size == gb.size && ga.zip(gb).forall { case (x, y) =>
        x.size == y.size && x.forall(e => y.exists(same(e, _)))
      }
    }
  }

  /** `*`-only glob match of dotted names (independent of the engine's). */
  def globMatch(glob: String, name: String): Boolean = {
    val g = glob.split('.'); val n = name.split('.')
    g.length == n.length && g.zip(n).forall { case (gs, ns) =>
      ns.matches(gs.split("\\*", -1).map(java.util.regex.Pattern.quote).mkString("[^.]*"))
    }
  }
}
