package graft.inference

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

class InferenceSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("transitive closure on a chain and a diamond") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"),
      ("x", "y1"), ("x", "y2"), ("y1", "z"), ("y2", "z"))
      .toDF("sub", "sup")
    val got = Closure.transitive(edges).as[(String, String)].collect().toSet
    assert(got == Set(
      ("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("b", "d"), ("a", "d"),
      ("x", "y1"), ("x", "y2"), ("y1", "z"), ("y2", "z"), ("x", "z")))
  }

  test("transitive closure fails loudly at its round cap instead of returning a partial closure") {
    val chain = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f"))
      .toDF("sub", "sup")
    intercept[IllegalStateException](Closure.transitive(chain, maxRounds = 1))
    val nodes = Seq("a", "b", "c", "d", "e", "f")
    val full = (for (i <- nodes.indices; j <- nodes.indices if i < j)
      yield (nodes(i), nodes(j))).toSet
    assert(Closure.transitive(chain).as[(String, String)].collect().toSet == full)
  }

  test("below() is reflexive at the top") {
    val edges = Seq(("a", "b"), ("b", "c")).toDF("sub", "sup")
    assert(Closure.below(edges, "c").as[String].collect().toSet == Set("a", "b", "c"))
    assert(Closure.below(edges, "b").as[String].collect().toSet == Set("a", "b"))
  }

  test("importLite types meta-nodes and falls back to local names") {
    val t = Seq(
      ("o:C1", "rdf:type", "owl:Class", Option.empty[Double], true, Option.empty[String]),
      ("o:C1", "rdfs:label", "Customer Class", None, false, None),
      ("o:p1", "rdf:type", "owl:ObjectProperty", None, true, None),
      ("o:d1", "rdf:type", "owl:DatatypeProperty", None, true, None),
      ("o:x", "rdf:type", "o:SomethingElse", None, true, None))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    val got = Ontology.importLite(t)
      .as[(String, String, String)].collect().toSet
    assert(got == Set(
      ("o:C1", "Class", "Customer Class"),
      ("o:p1", "Relationship", "p1"),
      ("o:d1", "Property", "d1")))
  }

  test("nodesInCategory walks the data-side category hierarchy") {
    val edges = Seq(
      ("catB", ":sub", "catA"), ("catC", ":sub", "catB"),
      ("x", ":in", "catC"), ("y", ":in", "catA"), ("z", ":in", "other"))
      .toDF("src", "rel", "dst")
    val got = Reasoner.nodesInCategory(spark, edges, "catA", ":sub", ":in")
      .as[String].collect().toSet
    assert(got == Set("x", "y"))
  }

  test("ontology reasoners agree with the static hierarchy") {
    val t = Seq(
      ("c:1", "rdf:type", ":Customer"),
      ("s:1", "rdf:type", ":Supplier"),
      ("p:1", "rdf:type", ":Part"))
      .map { case (a, b, c) => (a, b, c, Option.empty[Double], true, Option.empty[String]) }
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    assert(Reasoner.nodesWithLabel(spark, t, ":Agent")
      .as[String].collect().toSet == Set("c:1", "s:1"))
    assert(Reasoner.nodesWithLabel(spark, t, ":Thing")
      .as[String].collect().toSet == Set("c:1", "s:1", "p:1"))
    val has = Reasoner.hasLabel(spark, t, ":Artifact")
      .as[(String, Boolean)].collect().toMap
    assert(has == Map("c:1" -> false, "s:1" -> false, "p:1" -> true))
  }

  test("propertyChain entails r along every p1∘p2 instance, deduped") {
    val t = Seq(
      ("a", ":p1", "m"), ("m", ":p2", "x"),   // chain a→m→x
      ("a", ":p1", "m2"), ("m2", ":p2", "x"), // second route, same pair
      ("b", ":p1", "m"),                       // chain b→m→x
      ("m", ":p1", "y"),                       // p1 out of a p2 middle: no chain
      ("z", ":p2", "w"))                       // bare p2: no chain
      .toDF("s", "p", "o")
    val got = Reasoner.propertyChain(t, Seq(":p1", ":p2"), ":r")
      .as[(String, String, String)].collect().toSet
    assert(got == Set(("a", ":r", "x"), ("b", ":r", "x")))
  }

  test("inverseEdges entails both directions of a declared inverse") {
    val e = Seq(
      ("c:1", ":hasNation", "n:1"),
      // an already-materialized inverse entails the forward edge back
      ("n:2", ":nationOf", "c:2"),
      // undeclared relation: no entailment
      ("c:1", ":name", "x"))
      .toDF("src", "rel", "dst")
    val got = Reasoner.inverseEdges(spark, e)
      .as[(String, String, String)].collect().toSet
    assert(got == Set(
      ("n:1", ":nationOf", "c:1"),
      ("c:2", ":hasNation", "n:2")))
  }

  test("relsOf anchors a node and filters by direction under SRO closure") {
    // :hasNation and :inRegion are subproperties of :locatedIn
    val edges = Seq(
      ("c:1", ":hasNation", "n:1"), ("n:1", ":inRegion", "r:1"),
      ("c:2", ":hasNation", "n:2"), ("c:9", ":other", "n:1"))
      .toDF("src", "rel", "dst")
    def got(dir: String) =
      Reasoner.relsOf(spark, edges, "n:1", ":locatedIn", dir)
        .as[(String, String, String)].collect().toSet
    assert(got(">") == Set((">", ":inRegion", "r:1")))
    assert(got("<") == Set(("<", ":hasNation", "c:1")))
    assert(got("") == Set((">", ":inRegion", "r:1"), ("<", ":hasNation", "c:1")))
  }

  test("transitive property entailment composes the subproperty lift") {
    // :hasNation/:inRegion lift to :locatedIn (rdfs7), which is
    // declared owl:TransitiveProperty — the chain closes across the
    // two DIFFERENT base predicates; unrelated edges never enter
    val edges = Seq(
      ("c:1", ":hasNation", "n:1"), ("n:1", ":inRegion", "r:1"),
      ("c:2", ":hasNation", "n:2"),
      ("c:9", ":other", "n:1"))
      .toDF("src", "rel", "dst")
    val got = Reasoner.transitiveEdges(spark, edges)
      .as[(String, String, String)].collect().toSet
    assert(got == Set(
      ("c:1", ":locatedIn", "n:1"),
      ("n:1", ":locatedIn", "r:1"),
      ("c:1", ":locatedIn", "r:1"), // the composed entailment
      ("c:2", ":locatedIn", "n:2")))
  }

  test("sameAs canonicalization smushes chains, spares literal lookalikes") {
    val store = Seq(
      // one entity under three URIs, linked by a CHAIN (a→b, b→c):
      // resolution must be transitive to reunite all three
      ("e:a", ":p1", "v1", Option.empty[Double], false, Option.empty[String]),
      ("e:b", ":p2", "v2", None, false, None),
      ("e:c", ":p3", "e:ref", None, true, None),
      ("e:a", "owl:sameAs", "e:b", None, true, None),
      ("e:b", "owl:sameAs", "e:c", None, true, None),
      // an IRI object inside the cluster rewrites too
      ("x:1", ":link", "e:b", None, true, None),
      // a LITERAL spelled like a clustered URI is a different term
      ("x:1", ":label", "e:b", None, false, None),
      // malformed sameAs with a literal object: dropped, never a link
      ("x:1", "owl:sameAs", "e:b", None, false, None))
      .toDF("s", "p", "o", "o_num", "o_is_iri", "lang")
    val got = SameAs.canonicalize(spark, store)
      .select("s", "p", "o").as[(String, String, String)].collect().toSet
    assert(got == Set(
      ("e:a", ":p1", "v1"),
      ("e:a", ":p2", "v2"),   // e:b's triple moved to the canon e:a
      ("e:a", ":p3", "e:ref"), // e:c's too (transitive hop)
      ("x:1", ":link", "e:a"), // IRI object rewritten
      ("x:1", ":label", "e:b"))) // literal untouched; sameAs dropped
  }
}
