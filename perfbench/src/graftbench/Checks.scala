package graftbench

import scala.collection.mutable

/** One record as the application received it: the micro-batch it came in,
  * its (shard, sequence) identity and the CRC-32 of its payload.
  */
final case class Delivery(batch: Long, shard: String, seq: Long, crc: Long)

/** What the generator appended: per shard, its sequences in append order,
  * and each child shard's parents.
  */
final case class Manifest(seqs: Map[String, Seq[Long]], parents: Map[String, Seq[String]]) {
  def total: Long = seqs.values.map(_.size.toLong).sum
}

/** Delivery checks, computed apart from the program: every (shard,
  * sequence) of the manifest delivered exactly once with its regenerated
  * payload, sequences ascending per shard across batches (deliveries are
  * given in arrival order), and each parent's tail in an earlier batch than
  * its children's heads. Returns one line per violation kind found.
  */
object Checks {
  def deliveries(m: Manifest, ds: Seq[Delivery], crcOf: (String, Long) => Long): Seq[String] = {
    val bad = mutable.LinkedHashMap.empty[String, String]
    def flag(kind: String, what: => String): Unit = if (!bad.contains(kind)) bad(kind) = what
    val seen = mutable.HashMap.empty[(String, Long), Int]
    val last = mutable.HashMap.empty[String, Long]
    val firstBatch = mutable.HashMap.empty[String, Long]
    val lastBatch = mutable.HashMap.empty[String, Long]
    val expected = m.seqs.map { case (sh, xs) => sh -> xs.toSet }
    ds.foreach { d =>
      val k = (d.shard, d.seq)
      seen(k) = seen.getOrElse(k, 0) + 1
      if (seen(k) == 2) flag("duplicated", s"${d.shard}/${d.seq}")
      if (!expected.get(d.shard).exists(_.contains(d.seq)))
        flag("unexpected", s"${d.shard}/${d.seq}")
      else if (crcOf(d.shard, d.seq) != d.crc) flag("payload", s"${d.shard}/${d.seq}")
      if (last.get(d.shard).exists(_ >= d.seq))
        flag("order", s"${d.shard}: ${d.seq} after ${last(d.shard)}")
      last(d.shard) = d.seq
      if (!firstBatch.contains(d.shard)) firstBatch(d.shard) = d.batch
      lastBatch(d.shard) = d.batch
    }
    m.seqs.foreach { case (sh, xs) =>
      xs.find(s => !seen.contains((sh, s))).foreach(s => flag("dropped", s"$sh/$s"))
    }
    m.parents.foreach { case (child, ps) =>
      ps.foreach { p =>
        for (pl <- lastBatch.get(p); cf <- firstBatch.get(child) if cf <= pl)
          flag("lineage", s"$child head in batch $cf, parent $p tail in batch $pl")
      }
    }
    bad.map { case (k, v) => s"$k: $v" }.toSeq
  }

  /** Feed [[deliveries]] a correct delivery and one corruption of each kind;
    * returns the corruptions the check failed to report.
    */
  def selfTest(): Seq[String] = {
    val m = Manifest(
      Map("p" -> Seq(0L, 1L, 2L), "c" -> Seq(0L, 1L), "s" -> Seq(0L, 1L, 2L)),
      Map("c" -> Seq("p")))
    def crc(sh: String, seq: Long): Long = (sh.hashCode * 31L + seq) & 0xffffffffL
    def d(b: Long, sh: String, seq: Long) = Delivery(b, sh, seq, crc(sh, seq))
    val good = Seq(d(0, "p", 0), d(0, "s", 0), d(1, "p", 1), d(1, "p", 2), d(1, "s", 1),
      d(2, "c", 0), d(2, "s", 2), d(3, "c", 1))
    val cases = Seq(
      "dropped" -> good.filterNot(x => x.shard == "s" && x.seq == 1),
      "duplicated" -> (good :+ d(4, "s", 2)),
      "order" -> good.map {
        case x if x.shard == "p" && x.seq == 1 => x.copy(seq = 2)
        case x if x.shard == "p" && x.seq == 2 => x.copy(seq = 1)
        case x => x
      },
      "payload" -> good.map(x => if (x.shard == "s" && x.seq == 2) x.copy(crc = x.crc ^ 1) else x),
      "lineage" -> good.map(x => if (x.shard == "c" && x.seq == 0) x.copy(batch = 1) else x))
    val clean = deliveries(m, good, crc)
    (if (clean.nonEmpty) Seq(s"clean delivery flagged: $clean") else Nil) ++
      cases.collect { case (kind, ds) if !deliveries(m, ds, crc).exists(_.startsWith(kind + ":")) =>
        s"$kind not detected"
      }
  }
}
