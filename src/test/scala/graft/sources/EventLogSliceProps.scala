package graft.sources

import org.scalacheck.{Gen, Prop, Properties}

/** Properties of the slice read path and of split packing: cutting a log
  * into consecutive `(start, end]` slices returns exactly the rows a full
  * filter returns, duplicate offsets (a producer batch) at a cut included;
  * a slice read stops at the first offset past `end`; and packing places
  * every slice in exactly one split.
  */
object EventLogSliceProps extends Properties("eventLogSlices") {

  // a partition log: non-decreasing offsets (step 0 = a duplicate offset),
  // multi-byte payloads, and now and then a corrupt line
  private val logs: Gen[List[String]] =
    Gen.listOf(Gen.zip(Gen.frequency(3 -> Gen.const(0L), 7 -> Gen.chooseNum(1L, 5L)), Gen.chooseNum(0, 20)))
      .map { steps =>
        val offsets = steps.scanLeft(0L)(_ + _._1).tail
        offsets.zip(steps).zipWithIndex.map { case ((o, (_, k)), i) =>
          if (k == 0) s"corrupt line $i" else s"$o\tpayload-$i-é"
        }
      }

  private def rows(lines: List[String]): List[(Long, String)] =
    lines.flatMap { l =>
      val i = l.indexOf('\t')
      if (i < 0) None else Some(l.substring(0, i).toLong -> l.substring(i + 1))
    }

  private def read(lines: Iterator[String], start: Long, end: Long): List[(Long, String)] =
    EventLogSource
      .sliceLines(EventLogSource.parseLines(lines), start, end)
      .map(l => l.offset -> new String(l.payload, java.nio.charset.StandardCharsets.UTF_8))
      .toList

  private val cutLogs: Gen[(List[String], List[Long])] = for {
    lines <- logs
    maxO   = rows(lines).map(_._1).maxOption.getOrElse(0L)
    cuts  <- Gen.listOf(Gen.chooseNum(0L, maxO + 1))
  } yield (lines, (OffsetCodec.Earliest :: cuts.distinct.sorted) :+ Long.MaxValue)

  property("consecutive slices equal the filtered rows and together the whole log") = Prop.forAll(cutLogs) {
    case (lines, cuts) =>
      val all    = rows(lines)
      val slices = cuts.zip(cuts.tail).map { case (s, e) => (s, e, read(lines.iterator, s, e)) }
      slices.forall { case (s, e, got) => got == all.filter { case (o, _) => o > s && o <= e } } &&
      slices.flatMap(_._3) == all
  }

  property("a slice read stops at the first offset past its end") = Prop.forAll(cutLogs) {
    case (lines, cuts) =>
      cuts.zip(cuts.tail).forall { case (s, e) =>
        var consumed = 0
        read(lines.iterator.map { l => consumed += 1; l }, s, e)
        // lines read = every line up to and including the first past `end`
        val firstPast = lines.indexWhere(l => rows(List(l)).exists(_._1 > e))
        consumed == (if (firstPast < 0) lines.length else firstPast + 1)
      }
  }

  property("packing places every slice in exactly one split") = Prop.forAll(
    Gen.listOf(Gen.chooseNum(0L, 1L << 30)),
    Gen.chooseNum(0L, 8L << 20),
    Gen.chooseNum(1L, 256L << 20),
    Gen.chooseNum(1, 16)
  ) { (sizes, openCost, maxBytes, minPartitions) =>
    val splits = EventLogSplits.pack(sizes.zipWithIndex.map(_.swap), openCost, maxBytes, minPartitions)
    splits.forall(_.nonEmpty) && splits.flatten.sorted == sizes.indices.toList
  }
}
