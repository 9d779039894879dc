package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean

import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, Literal}
import org.apache.spark.sql.types.LongType

import graft.functions.BoundedCollectList

/** ScalaCheck properties for the saturating collect aggregate's buffer
  * algebra — update/merge exercised directly (no Spark job), over
  * arbitrary input lists and arbitrary partition splits, mirroring what
  * map-side partials + reduce-side merges do at any cluster layout.
  */
object BoundedCollectProperties extends Properties("BoundedCollect") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withInitialSeed(org.scalacheck.rng.Seed(7L))

  private def run(values: Seq[Long], splits: Seq[Int], cap0: Int): Seq[Long] = {
    val cap = math.max(cap0, 1) // shrinker guard: cap contract is >= 1
    val agg = BoundedCollectList(BoundReference(0, LongType, nullable = false),
      Literal(cap))
    // partition the input at the given cut points, update each partial,
    // then fold-merge left to right (merge order is irrelevant to the
    // properties below)
    val parts = {
      val cuts = (0 +: splits.map(s => math.min(math.max(s, 0), values.length)).sorted :+ values.length).distinct
      val ps = cuts.zip(cuts.tail).map { case (a, b) => values.slice(a, b) }
      if (ps.isEmpty) Seq(values) else ps // empty input → one empty partial
    }
    val buffers = parts.map { part =>
      val buf = agg.createAggregationBuffer()
      part.foreach { v =>
        agg.update(buf, new GenericInternalRow(Array[Any](v)))
      }
      buf
    }
    val merged = buffers.reduceLeft { (a, b) =>
      // serialize round-trip in the merge path, as shuffle does
      agg.merge(a, agg.deserialize(agg.serialize(b)))
    }
    merged.toSeq.map(_.asInstanceOf[Long])
  }

  private val genCase = for {
    n <- Gen.chooseNum(0, 300)
    values <- Gen.containerOfN[Seq, Long](n, Gen.chooseNum(-1000L, 1000L))
    cap <- Gen.chooseNum(1, 50)
    splits <- Gen.containerOfN[Seq, Int](4, Gen.chooseNum(0, 300))
  } yield (values, cap, splits)

  property("size is exactly min(n, cap+1) for every partition layout") =
    Prop.forAll(genCase) { case (values, cap0, splits) =>
      val cap = math.max(cap0, 1)
      run(values, splits, cap).size == math.min(values.size, cap + 1)
    }

  property("under-cap groups preserve the exact input multiset") =
    Prop.forAll(genCase) { case (values, cap0, splits) =>
      val cap = math.max(cap0, 1)
      (values.size <= cap) ==> {
        val got = run(values, splits, cap)
        got.groupBy(identity).view.mapValues(_.size).toMap ==
          values.groupBy(identity).view.mapValues(_.size).toMap
      }
    }

  property("saturated buffers only ever hold input elements") =
    Prop.forAll(genCase) { case (values, cap0, splits) =>
      val in = values.toSet
      run(values, splits, cap0).forall(in.contains)
    }

  property("partition layout never changes the survive/drop verdict") =
    Prop.forAll(genCase) { case (values, cap0, splits) =>
      val cap = math.max(cap0, 1)
      val a = run(values, splits, cap).size
      val b = run(values, Seq(1, 2), cap).size
      (a <= cap) == (b <= cap) // census verdict is layout-independent
    }
}
