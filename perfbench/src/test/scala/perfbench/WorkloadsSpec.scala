package perfbench

import graft.SparkEntry
import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** workloads.json names real registry keys, grouped by family. */
class WorkloadsSpec extends AnyFunSuite {
  case class Workload(fixture: String, families: List[String], keys: List[String])

  val workloads: Map[String, Workload] = {
    def strings(v: JValue) = v match {
      case JArray(xs) => xs.collect { case JString(s) => s }
      case _ => Nil
    }
    val JObject(fields) = parse(scala.io.Source.fromFile("workloads.json").mkString)
    fields.map { case (name, w) =>
      name -> Workload((w \ "fixture").values.toString, strings(w \ "families"), strings(w \ "keys"))
    }.toMap
  }
  val registry: Set[String] = SparkEntry.queries.keySet

  def family(key: String): String = key.takeWhile(_ != '_')

  test("every workload's families resolve to registry keys it runs") {
    assert(workloads.nonEmpty)
    workloads.foreach { case (name, w) =>
      w.families.foreach { f =>
        assert(registry.exists(family(_) == f), s"$name: family $f has no registry key")
        assert(w.keys.exists(family(_) == f), s"$name: family $f has no key in the workload")
      }
      w.keys.foreach { k =>
        assert(registry(k), s"$name: $k is not a registry key")
        assert(w.families.contains(family(k)), s"$name: $k is outside its families")
      }
      assert(w.keys.distinct == w.keys, s"$name lists a key twice")
    }
  }

  test("the sf0.1 workloads are disjoint") {
    val sf01 = workloads.values.filter(_.fixture == "sf0.1").toSeq
    val all = sf01.flatMap(_.keys)
    assert(all.distinct.size == all.size)
  }
}
