package graft

import graft.export.Hierarchy
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class HierarchySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("d3Json nests Main → Cluster → label → sample → api") {
    val assignments = Seq(
      (0, 1.0, "s1", Seq(("Sleep", 47), ("LoadLibrary", 3))),
      (0, 0.0, "s2", Seq(("Sleep", 47))),
      (1, 1.0, "s3", Seq(("CreateThread", 12))))
      .toDF("cluster", "label", "sample_id", "raw")
      .withColumn("apis", expr(
        "transform(raw, x -> struct(x._1 AS name, x._2 AS size))"))
      .drop("raw")
    val json = Hierarchy.d3Json(assignments.collect().toSeq)
    assert(json.contains(""""name":"Main Container""""))
    assert(json.contains(""""name":"Cluster #0""""))
    assert(json.contains(""""name":"Cluster #1""""))
    assert(json.contains(""""name":"Clean""""))
    assert(json.contains(""""name":"Virus""""))
    assert(json.contains(""""name":"Sleep","size":47"""))
    // 5 levels deep: Main.children[k].children[label].children[sample].children[api]
    assert(json.indexOf("Cluster #0") < json.indexOf("Cluster #1"))
  }
}
