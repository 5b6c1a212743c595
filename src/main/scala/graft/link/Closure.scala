package graft.link

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Transitive closures over tiny dimension hierarchies (unit class
  * ladders, formation chains). The reference resolves these per query with
  * SPARQL property paths (`a/rdfs:subClassOf* wsc:Group`,
  * reference: sparql/units.sparql:20-26); Spark has no recursive join, so
  * the closure is PRECOMPUTED once per batch and then broadcast into the
  * linking joins. The dim side is gazetteer-sized by contract (thousands
  * of classes at most), so the edges are collected and the fixpoint runs
  * on the driver: a Spark loop would pay a cache + count job per hop for
  * a few hundred pairs. */
object Closure {

  /** Reflexive-transitive closure of an edge table `(node, parent)`:
    * returns `(node, ancestor)` with every node reachable via 0..n parent
    * hops. Fixpoint by linear expansion, one hop per iteration; `maxDepth`
    * is a runaway guard, not a tuning knob: a closure still growing after
    * `maxDepth` iterations (a cycle longer than that, or a ladder deeper
    * than expected) fails the `require`. Null endpoints never match an
    * edge, as in an equi-join. */
  def reflexiveTransitive(edges: DataFrame, node: String = "clazz",
                          parent: String = "parent", maxDepth: Int = 32): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val es = edges.select(col(node), col(parent)).as[(String, String)].collect().toSeq
    val parents = es.filter(_._1 != null).groupMap(_._1)(_._2)
    var closure = (es.flatMap { case (n, p) => Seq((n, n), (p, p)) } ++ es).toSet
    var frontier = closure // pairs added by the last hop
    var depth = 0
    var grown = true
    while (grown && depth < maxDepth) {
      frontier = frontier.flatMap { case (n, a) =>
        parents.getOrElse(a, Nil).map(p => (n, p))
      } -- closure
      closure ++= frontier
      grown = frontier.nonEmpty
      depth += 1
    }
    // a still-growing closure at the depth cap means a cycle or a ladder
    // deeper than expected — return loudly, never a silently-partial
    // closure (a partial subClassOf* closure would wrongly EXCLUDE unit
    // candidates downstream)
    require(!grown,
      s"transitive closure still growing after $maxDepth iterations — " +
        "cyclic hierarchy or maxDepth too small")
    closure.toSeq.toDF(node, "ancestor")
  }
}
