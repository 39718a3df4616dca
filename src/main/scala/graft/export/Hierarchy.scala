package graft.export

import java.io.StringWriter

import com.fasterxml.jackson.core.JsonFactory
import graft.io.Codecs.sqlStringOrder
import org.apache.spark.sql.Row

/** D3 circle-packing hierarchy export (K5) — replaces the reference's
  * PHP post-processor (`exportJSON.php:9-54`) with a driver-side
  * Jackson renderer over the collected cluster assignments (one row
  * per sample, which the pipeline holds on the driver anyway). Its
  * bytes are those of Spark's `collect_list(struct(...))` nesting +
  * `to_json` (RenderParitySpec keeps that form as its oracle).
  *
  * Levels (`KmeansVirus.scala:32-40`, `www/html/data.json` shape):
  * Main Container → `Cluster #k` → {Clean, Virus} → sample → API leaf
  * (`{name, size}` where size = descending feature rank, P9
  * `KmeansVirus.scala:106-111`).
  *
  * Children are sorted at every level by name in Spark's string order
  * (UTF-8 bytes, so `Cluster #10` sorts before `Cluster #2`), which
  * makes the JSON deterministic (the PHP inherited file order;
  * SURVEY §7.4.1). Sample ids are unique, so a name orders samples
  * fully; API leaves keep their rank order.
  */
object Hierarchy {

  /** The label level's node name (`label == 0.0` is clean). */
  def labelName(label: Double): String = if (label == 0.0) "Clean" else "Virus"

  /** assignments rows: (cluster INT, label DOUBLE, sample_id STRING,
    * apis ARRAY<STRUCT<name STRING, size INT>>), in that column order
    * → the hierarchy JSON. */
  def d3Json(assignments: Seq[Row]): String = {
    val out = new StringWriter()
    val g = new JsonFactory().createGenerator(out)
    def node(name: String)(children: => Unit): Unit = {
      g.writeStartObject()
      g.writeStringField("name", name)
      g.writeArrayFieldStart("children")
      children
      g.writeEndArray()
      g.writeEndObject()
    }
    def sortedGroups(rows: Seq[Row])(key: Row => String) =
      rows.groupBy(key).toSeq.sortBy(_._1)(sqlStringOrder)

    node("Main Container") {
      for ((cluster, inCluster) <- sortedGroups(assignments)(r =>
             s"Cluster #${r.getInt(0)}"))
        node(cluster) {
          for ((label, samples) <- sortedGroups(inCluster)(r =>
                 labelName(r.getDouble(1))))
            node(label) {
              for (s <- samples.sortBy(_.getString(2))(sqlStringOrder))
                node(s.getString(2)) {
                  for (api <- s.getSeq[Row](3)) {
                    g.writeStartObject()
                    g.writeStringField("name", api.getString(0))
                    g.writeNumberField("size", api.getInt(1))
                    g.writeEndObject()
                  }
                }
            }
        }
    }
    g.close()
    out.toString
  }
}
