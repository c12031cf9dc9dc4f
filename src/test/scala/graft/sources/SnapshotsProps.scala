package graft.sources

import org.scalacheck.{Gen, Prop, Properties}

/** Pure-JVM properties of the commit-log Bloom filter (no Spark):
  * the bit-index/hex-encode/probe arithmetic must never produce a
  * false negative — the soundness half of mayContainKey's contract
  * (false positives are merely unpruned directories). */
object SnapshotsProps extends Properties("snapshots.bloom") {

  private val key: Gen[String] = Gen.oneOf(
    Gen.choose(Long.MinValue, Long.MaxValue).map(_.toString),
    Gen.asciiPrintableStr.suchThat(_.nonEmpty),
    Gen.listOfN(8, Gen.choose(Char.MinValue, Char.MaxValue)).map(_.mkString))

  private val keySet: Gen[List[String]] = Gen.nonEmptyListOf(key)

  private def build(vs: Seq[String], m: Int, k: Int): Snapshots.Bloom = {
    val bytes = new Array[Byte]((m + 7) / 8)
    vs.foreach(v => Snapshots.bloomPositions(v, m, k).foreach { p =>
      bytes(p >> 3) = (bytes(p >> 3) | (0x80 >> (p & 7))).toByte
    })
    Snapshots.Bloom(m, k, bytes.map(b => f"${b & 0xff}%02x").mkString)
  }

  property("noFalseNegatives") = Prop.forAll(keySet) { vs =>
    val b = build(vs, Snapshots.BloomBits, Snapshots.BloomHashes)
    vs.forall(b.mightContain)
  }

  property("hexRoundTripStable") = Prop.forAll(keySet) { vs =>
    val b = build(vs, Snapshots.BloomBits, Snapshots.BloomHashes)
    // re-parse through the hex form (what the commit log stores)
    val b2 = Snapshots.Bloom(b.m, b.k, b.hex)
    vs.forall(b2.mightContain)
  }

  property("emptyBloomContainsNothing") = Prop.forAll(key) { v =>
    val empty = build(Nil, Snapshots.BloomBits, Snapshots.BloomHashes)
    !empty.mightContain(v)
  }
}
