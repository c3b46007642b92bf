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

  /** The table of [[mergeLake]]: a text key, one text clustering, a
    * static column, two simple columns and a map<text, int>. */
  val mergeHeader: BigFormat.Header = header.copy(
    clusteringTypes = Seq(BigFormat.Utf8Type),
    staticColumns = Seq("st" -> BigFormat.Utf8Type),
    regularColumns = Seq("a" -> BigFormat.Utf8Type,
      "b" -> BigFormat.Utf8Type,
      "m" -> BigFormat.mapType(BigFormat.Utf8Type, BigFormat.Int32Type)))

  private val mergeKeys = (0 until 6).map(i => s"key$i")
  private val mergeClusterings = (0 until 12).map(i => f"c$i%02d")

  /** A timestamp on the whole-second grid past [[epoch]]: deletions keep
    * it, cells and liveness get a distinct sub-second offset from
    * [[mergeLake]], so no write ties another or a deletion. */
  private val stamp: Gen[Long] =
    Gen.chooseNum(0L, 100L).map(s => epoch + s * 1000000L)

  /** A live (optionally expiring) cell or a cell tombstone. */
  private def mergeCell(name: String, path: Option[String]): Gen[BigFormat.CellAtom] =
    for {
      ts <- stamp
      tomb <- Gen.frequency(3 -> false, 1 -> true)
      ttl <- Gen.option(Gen.chooseNum(1, 100000))
      v <- if (name == "m") Gen.chooseNum(-1000, 1000).map(_.toString) else str
      extra <- Gen.chooseNum(0, 1000)
    } yield {
      val sec = (ts / 1000000L).toInt
      if (tomb) BigFormat.CellAtom(name, ts, None, Some(sec + extra), None,
        deleted = true, path = path)
      else BigFormat.CellAtom(name, ts, ttl, ttl.map(sec + _), Some(v),
        deleted = false, path = path)
    }

  private def mergeRow(cl: String): Gen[BigFormat.RowAtom] = for {
    live <- Gen.option(stamp)
    liveTtl <- Gen.option(Gen.chooseNum(1, 100000))
    del <- Gen.frequency(5 -> None, 1 -> stamp.map(Some(_)))
    a <- Gen.option(mergeCell("a", None))
    b <- Gen.option(mergeCell("b", None))
    paths <- Gen.someOf("p0", "p1", "p2")
    ms <- Gen.sequence[List[BigFormat.CellAtom], BigFormat.CellAtom](
      paths.sorted.map(p => mergeCell("m", Some(p))))
    complexDel <- Gen.frequency(5 -> None, 1 -> stamp.map(Some(_)))
  } yield BigFormat.RowAtom(Seq(Some(cl)), live,
    live.flatMap(_ => liveTtl),
    for (t <- live; l <- liveTtl) yield (t / 1000000L).toInt + l,
    del, a.toSeq ++ b.toSeq ++ ms, complexDel.map("m" -> _).toSeq)

  /** One generation's body of a partition: an optional partition
    * deletion, an optional static row and up to four clustered rows. */
  private val mergeBody: Gen[(Option[Long], Seq[BigFormat.Atom])] = for {
    del <- Gen.frequency(6 -> None, 1 -> stamp.map(Some(_)))
    st <- Gen.option(mergeCell("st", None))
    cls <- Gen.pick(4, mergeClusterings).flatMap(all =>
      Gen.chooseNum(0, 4).map(n => all.take(n).toList))
    rows <- Gen.sequence[List[BigFormat.RowAtom], BigFormat.RowAtom](
      cls.map(mergeRow))
  } yield (del, st.map(c => BigFormat.RowAtom(Nil, None, None, None, None,
    Seq(c), static = true)).toSeq ++ rows)

  /** Up to three range tombstones of one partition, disjoint across and
    * within generations, each in one of `n` generations: the markers
    * per generation. A range may start where the previous one ends with
    * the other inclusivity; in the same generation the two bounds are
    * written as one boundary marker. */
  private def mergeRanges(n: Int): Gen[Seq[Seq[BigFormat.MarkerAtom]]] = for {
    k <- Gen.chooseNum(0, 3)
    idx <- Gen.pick(2 * k, mergeClusterings.indices).map(_.sorted.toIndexedSeq)
    gens <- Gen.listOfN(k, Gen.chooseNum(0, n - 1))
    dels <- Gen.listOfN(k, stamp)
    incs <- Gen.listOfN(2 * k, Gen.oneOf(true, false))
    joins <- Gen.listOfN(k, Gen.frequency(2 -> false, 1 -> true))
  } yield {
    import BigFormat.Kind._
    val out = Array.fill(n)(scala.collection.mutable.ArrayBuffer
      .empty[BigFormat.MarkerAtom])
    def at(i: Int) = Seq(Some(mergeClusterings(i)))
    var prevEnd: Option[(Int, Boolean)] = None // (index, inclusive)
    (0 until k).foreach { j =>
      val g = gens(j)
      val joined = joins(j) && prevEnd.isDefined
      val (s, sinc) =
        if (joined) (prevEnd.get._1, !prevEnd.get._2)
        else (idx(2 * j), incs(2 * j))
      val (e, einc) = (idx(2 * j + 1), incs(2 * j + 1))
      if (joined && gens(j - 1) == g) {
        // the previous range's end marker becomes a boundary
        val last = out(g).remove(out(g).size - 1)
        out(g) += BigFormat.MarkerAtom(
          if (last.kind == InclEndBound) InclEndExclStartBoundary
          else ExclEndInclStartBoundary, at(s),
          Seq(last.deletions.head, dels(j)))
      } else out(g) += BigFormat.MarkerAtom(
        if (sinc) InclStartBound else ExclStartBound, at(s), Seq(dels(j)))
      out(g) += BigFormat.MarkerAtom(if (einc) InclEndBound else ExclEndBound,
        at(e), Seq(dels(j)))
      prevEnd = Some((e, einc))
    }
    out.toSeq.map(_.toSeq)
  }

  /** One key's partition in each of `n` generations (None = absent). */
  private def mergeVersions(key: String, n: Int)
      : Gen[Seq[Option[BigFormat.PartitionData]]] = for {
    present <- Gen.listOfN(n, Gen.frequency(3 -> true, 1 -> false))
    ranges <- mergeRanges(n)
    bodies <- Gen.listOfN(n, mergeBody)
  } yield (0 until n).map { g =>
    if (!present(g) && ranges(g).isEmpty) None
    else Some(BigFormat.PartitionData(key, bodies(g)._1,
      bodies(g)._2 ++ ranges(g)))
  }

  /** 2–5 overlapping generations of [[mergeHeader]]'s table: keys and
    * clusterings shared across generations; cell versions (live,
    * expiring or tombstones, in simple, static and map columns) with
    * distinct writetimes; primary-key liveness; partition, row and
    * collection deletions; range tombstones disjoint across
    * generations. */
  val mergeLake: Gen[Seq[Seq[BigFormat.PartitionData]]] = for {
    n <- Gen.chooseNum(2, 5)
    byKey <- Gen.sequence[List[Seq[Option[BigFormat.PartitionData]]],
      Seq[Option[BigFormat.PartitionData]]](mergeKeys.map(mergeVersions(_, n)))
  } yield {
    var offset = 0L
    def distinct(ts: Long): Long = { offset += 1; ts + offset }
    (0 until n).map(g => byKey.flatMap(_(g)).map(p =>
      p.copy(atoms = p.atoms.map {
        case r: BigFormat.RowAtom => r.copy(
          livenessTsUs = r.livenessTsUs.map(distinct),
          cells = r.cells.map(c => c.copy(tsUs = distinct(c.tsUs))))
        case m => m
      })))
  }
}
