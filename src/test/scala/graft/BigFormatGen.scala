package graft

import graft.sources.BigFormat
import org.scalacheck.Gen

/** ScalaCheck generators of arbitrary big-format partitions, shared by
  * the codec round-trip property and the sink-route equality property.
  * Strings include unicode and empties; timestamps straddle the stats
  * minimum of [[header]] (negative deltas take the 9-byte vint path). */
object BigFormatGen {
  val epoch: Long = 1609459200L * 1000000L

  /** The header the generated partitions encode under: a text key, a
    * (text, int) clustering and two text regular columns. */
  val header: BigFormat.Header = BigFormat.Header(
    minTimestampUs = epoch, // mid-range: negative deltas exercised
    minLocalDeletionTimeS = 1609459200, minTtlS = 0,
    keyType = BigFormat.Utf8Type,
    clusteringTypes = Seq(BigFormat.Utf8Type, BigFormat.Int32Type),
    staticColumns = Nil,
    regularColumns = Seq(
      "a" -> BigFormat.Utf8Type, "c" -> BigFormat.Utf8Type))

  val str: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(_.take(12)),
    Gen.const(""),
    Gen.const("naïve→雪 ∅"),
    Gen.listOfN(3, Gen.choose(0x20.toChar, 0x2fff.toChar)).map(_.mkString))

  val cell: Gen[BigFormat.CellAtom] = for {
    nm <- Gen.oneOf("a", "c")
    dt <- Gen.chooseNum(-86400000000L, 86400000000L)
    ttl <- Gen.option(Gen.chooseNum(1, 1000000))
    v <- str
    deleted <- Gen.oneOf(true, false)
  } yield BigFormat.CellAtom(nm, epoch + dt,
    if (deleted) None else ttl,
    if (deleted) Some(1609459300) else ttl.map(t => 1609459200 + t),
    if (deleted) None else Some(v), deleted)

  /** A full (text, int) clustering; the text component may be null or
    * empty. */
  val clustering: Gen[Seq[Option[String]]] = for {
    c1 <- Gen.oneOf(str.map(Option(_)), Gen.const(None),
      Gen.const(Some("")))
    c2 <- Gen.chooseNum(-1000000, 1000000)
  } yield Seq(c1, Some(c2.toString))

  val row: Gen[BigFormat.RowAtom] = for {
    cl <- clustering
    ts <- Gen.option(Gen.chooseNum(-86400000000L, 86400000000L)
      .map(epoch + _))
    ttl <- Gen.option(Gen.chooseNum(1, 500000))
    del <- Gen.option(Gen.chooseNum(0L, 86400000000L).map(epoch + _))
    // unique per column, in header-regulars order (the on-disk order)
    cells <- Gen.listOfN(2, cell)
      .map(_.distinctBy(_.name).sortBy(_.name))
    // a row needs SOMETHING: liveness, a deletion, or cells
    if ts.isDefined || del.isDefined || cells.nonEmpty
  } yield BigFormat.RowAtom(cl,
    ts, if (ts.isDefined) ttl else None,
    (ts, ttl) match {
      case (Some(t), Some(l)) => Some((t / 1000000L + l).toInt)
      case _ => None
    },
    del,
    // cells inherit nothing here: explicit timestamps throughout
    if (ts.isEmpty && del.isEmpty && cells.isEmpty)
      Seq(BigFormat.CellAtom("a", epoch, None, None, Some("x"), false))
    else cells)

  /** A bound or boundary marker at a clustering from `cl` (by default
    * a one-component prefix). */
  def marker(cl: Gen[Seq[Option[String]]] = str.map(s => Seq(Some(s))))
      : Gen[BigFormat.MarkerAtom] = for {
    kind <- Gen.oneOf(BigFormat.Kind.InclStartBound,
      BigFormat.Kind.ExclStartBound, BigFormat.Kind.InclEndBound,
      BigFormat.Kind.ExclEndBound,
      BigFormat.Kind.ExclEndInclStartBoundary,
      BigFormat.Kind.InclEndExclStartBoundary)
    c <- cl
    d1 <- Gen.chooseNum(0L, 86400000000L).map(epoch + _)
    d2 <- Gen.chooseNum(0L, 86400000000L).map(epoch + _)
  } yield BigFormat.MarkerAtom(kind, c,
    if (kind == BigFormat.Kind.ExclEndInclStartBoundary ||
      kind == BigFormat.Kind.InclEndExclStartBoundary) Seq(d1, d2)
    else Seq(d1))

  /** Three rows then one marker, atoms in generation order (not
    * clustering order), with an optional partition deletion. */
  def partition(markers: Gen[BigFormat.MarkerAtom] = marker())
      : Gen[BigFormat.PartitionData] = for {
    key <- Gen.identifier.map(_.take(20)).suchThat(_.nonEmpty)
    del <- Gen.option(Gen.chooseNum(0L, 86400000000L).map(epoch + _))
    rows <- Gen.listOfN(3, row)
    ms <- Gen.listOfN(1, markers)
  } yield BigFormat.PartitionData(key, del, rows ++ ms)
}
