package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

/** SplitMix64: a tiny generator with a fixed, documented algorithm, so a
  * seed yields the same bytes on every JVM.
  */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9E3779B97F4A7C15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def nextInt(n: Int): Int = java.lang.Math.floorMod(nextLong(), n.toLong).toInt
  def chance(oneIn: Int): Boolean = nextInt(oneIn) == 0
}

object Rng {
  /** An independent stream per (seed, purpose, index). */
  def of(seed: Long, purpose: Int, index: Long = 0L): Rng =
    new Rng(new Rng(seed ^ (purpose.toLong << 48) ^ index).nextLong())
}

/** Seeded input generators. Everything the program sees is made here
  * from the workload seed; the same seed gives the same bytes.
  */
object Gen {
  private val Airports = Vector("SEA", "SFO", "LAX", "DEN", "ORD", "JFK",
    "BOS", "ATL", "DFW", "MIA", "PHX", "IAD", "SLC", "MSP", "DTW", "PDX")
  private val Classes = Vector("nonstop", "direct")

  /** Words of the document vocabulary (the 97-word sidx shape). */
  val Vocab = 97
  val Dims = 16

  // ---- backfill: a reference-shaped DynamoDB export -------------------

  /** Export line `i`: ~half fares, half flights; every 1000th line
    * (i % 1000 == 999) has no PK, so it is undecodable and must land in
    * the DLQ. Keys carry `i`, so every item is distinct.
    */
  def exportLine(seed: Long, i: Long): String = {
    val r = Rng.of(seed, 1, i)
    val o = Airports(r.nextInt(Airports.size))
    val d = Airports(r.nextInt(Airports.size))
    val day = 1 + r.nextInt(28)
    val hh = r.nextInt(24)
    val ts = f"2023-05-$day%02dT$hh%02d:15:00"
    if (i % 1000 == 999)
      s"""{"Item": {"SK": {"S": "orphan#$i"}, "type": {"S": "fare"}, "__id": {}}}"""
    else if (r.nextInt(2) == 0) {
      val cls = Classes(r.nextInt(2))
      s"""{"Item": {"PK": {"S": "$o"}, "SK": {"S": "$d#$ts#$cls#$i"}, "type": {"S": "fare"}, """ +
        s""""origin": {"S": "$o"}, "dest": {"S": "$d"}, "start": {"S": "$ts"}, """ +
        f""""end": {"S": "2023-06-$day%02dT23:59:59"}, "class": {"S": "$cls"}, """ +
        s""""GSI1PK": {"S": "$d"}, "GSI1SK": {"S": "$o#$ts"}, "__id": {}}}"""
    } else {
      val num = 100 + r.nextInt(900)
      s"""{"Item": {"PK": {"S": "$o"}, "SK": {"S": "$o#$ts#$num#$i"}, "type": {"S": "flight"}, """ +
        s""""origin": {"S": "$o"}, "dest": {"S": "$d"}, "depart": {"S": "$ts"}, """ +
        f""""arrive": {"S": "2023-05-$day%02dT23:45:00"}, "class": {"S": "economy"}, """ +
        s""""number": {"N": "$num"}, "segId": {"N": "1"}, "GSI1PK": {"S": "$o"}, """ +
        s""""GSI1SK": {"S": "$ts"}, "GSI2PK": {"S": "$num"}, "GSI2SK": {"S": "1"}, "__id": {}}}"""
    }
  }

  /** Write `items` export lines as `files` JSON-lines parts under `dir`. */
  def writeExport(seed: Long, items: Long, files: Int, dir: Path): Unit = {
    Files.createDirectories(dir)
    (0 until files).foreach { f =>
      val lo = items * f / files
      val hi = items * (f + 1) / files
      val sb = new StringBuilder
      var i = lo
      while (i < hi) { sb.append(exportLine(seed, i)).append('\n'); i += 1 }
      Files.write(dir.resolve(f"part-$f%05d.json"), sb.toString.getBytes(UTF_8))
    }
  }

  // ---- documents (BM25 text + IVF vectors) ----------------------------

  final case class Doc(id: Long, text: String, emb: Vector[Float])

  /** A document: 12 words of the 97-word vocabulary, a 16-dim vector
    * with three decimals (exact through a JSON round trip).
    */
  def doc(r: Rng, id: Long): Doc = Doc(id,
    (0 until 12).map(_ => s"w${r.nextInt(Vocab)}").mkString(" "),
    Vector.fill(Dims)((r.nextInt(2001) - 1000) / 1000f))

  def corpus(seed: Long, n: Int): IndexedSeq[Doc] = {
    val r = Rng.of(seed, 2)
    (0 until n).map(i => doc(r, i.toLong))
  }

  // ---- CDC: a DynamoDB stream and a doc-change feed -------------------

  /** One DynamoDB Streams record; `cls` is the new image's payload. */
  final case class DdbEvent(name: String, key: Int, seq: Long, cls: String) {
    def docId: String = s"K$key#S$key"
    def isDelete: Boolean = name == "REMOVE"
  }

  /** One search-index change: upsert (text + vector) or delete. */
  final case class DocEvent(doc: Doc, delete: Boolean, seq: Long)

  /** Sequence numbers of epoch e lie in [e * EpochSpan, (e + 1) * EpochSpan). */
  val EpochSpan = 1000000L

  /** Epoch 0 inserts every key once; later epochs draw `n` keys at
    * random with ~1/20 REMOVE. Sequence numbers increase globally.
    */
  def ddbEpoch(seed: Long, epoch: Int, n: Int, keys: Int): IndexedSeq[DdbEvent] = {
    val r = Rng.of(seed, 3, epoch)
    if (epoch == 0)
      (0 until keys).map(k => DdbEvent("INSERT", k, k.toLong, s"c${r.nextInt(1000)}"))
    else (0 until n).map { i =>
      val seq = epoch * EpochSpan + i
      val k = r.nextInt(keys)
      if (r.chance(20)) DdbEvent("REMOVE", k, seq, "")
      else DdbEvent("MODIFY", k, seq, s"c${r.nextInt(1000)}")
    }
  }

  def ddbLine(e: DdbEvent): String = {
    val keys = s""""Keys": {"PK": {"S": "K${e.key}"}, "SK": {"S": "S${e.key}"}}"""
    val image =
      if (e.isDelete) ""
      else s""", "NewImage": {"PK": {"S": "K${e.key}"}, "SK": {"S": "S${e.key}"}, """ +
        s""""type": {"S": "fare"}, "class": {"S": "${e.cls}"}, "__id": {}}"""
    s"""{"eventName": "${e.name}", $keys$image, "SequenceNumber": ${e.seq}, """ +
      s""""ApproximateCreationDateTime": ${1700000000L + e.seq / EpochSpan}}"""
  }

  /** Epoch `epoch` of changes to the corpus: `n` ids drawn at random,
    * ~1/20 deletes, sequenced after the corpus (whose docs carry their
    * id as sequence number) and after every earlier epoch.
    */
  def docEpoch(seed: Long, epoch: Int, n: Int, keys: Int): IndexedSeq[DocEvent] = {
    val r = Rng.of(seed, 4, epoch)
    (0 until n).map { i =>
      val d = doc(r, r.nextInt(keys).toLong)
      DocEvent(d, delete = r.chance(20), (epoch + 1) * EpochSpan + i)
    }
  }

  def docLine(e: DocEvent): String = {
    val action = if (e.delete) "delete" else "upsert"
    s"""{"doc_id": ${e.doc.id}, "text": "${e.doc.text}", "embedding": """ +
      s"""${e.doc.emb.mkString("[", ",", "]")}, "_action": "$action", "_seq": ${e.seq}}"""
  }

  /** Land a file in a directory a stream is tailing: write it beside
    * the directory, then move it in atomically, so a trigger never
    * lists a half-written file.
    */
  def land(dir: Path, name: String, lines: Iterable[String]): Unit = {
    val tmp = dir.resolveSibling(s".${dir.getFileName}-$name.tmp")
    Files.write(tmp, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }
}

/** Plain-Scala replay oracles for the outputs the program maintains. */
object Oracle {

  /** Last-writer-wins replay: per key the event with the highest
    * sequence wins (a delete wins a tie, as in the engine's merge); a
    * winning delete removes the key. `value` is None for a delete.
    */
  def lww[K, V](events: Iterable[(K, Long, Option[V])]): Map[K, V] = {
    val best = scala.collection.mutable.HashMap.empty[K, (Long, Option[V])]
    events.foreach { case (k, seq, v) =>
      best.get(k) match {
        case Some((s, _)) if s > seq || (s == seq && v.nonEmpty) =>
        case _ => best(k) = (seq, v)
      }
    }
    best.iterator.collect { case (k, (_, Some(v))) => k -> v }.toMap
  }

  /** Live `class` per doc id after the DynamoDB stream's epochs. */
  def ddbLive(epochs: Iterable[Gen.DdbEvent]): Map[String, String] =
    lww(epochs.map(e => (e.docId, e.seq, if (e.isDelete) None else Some(e.cls))))

  /** Live documents after the doc-change feed's epochs. */
  def docsLive(epochs: Iterable[Gen.DocEvent]): Map[Long, Gen.Doc] =
    lww(epochs.map(e => (e.doc.id, e.seq, if (e.delete) None else Some(e.doc))))
}
