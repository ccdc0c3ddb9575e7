package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.etl.CdcMerge
import graft.sources.VersionPointer

/** Point-in-time reads over CDC-MAINTAINED ENTITY TABLES (r15, VERDICT
  * r14 #6) — the [[graft.etl.IndexAlias]] version-pin generalized from
  * the BM25 alias to the [[CdcStream]] / [[DeltaCdc]] targets: a
  * `search_after` pagination session over an entity table can
  * otherwise skip or repeat rows when a merge lands mid-session (the
  * cursor keysets against a ranking the next epoch just rewrote).
  *
  * `open` resolves the table's state COMPONENTS once — the latest
  * committed snapshot version plus, for a delta-log target, the live
  * delta epochs above it — and pins each against vacuum:
  * [[CdcStream.vacuum]] and [[DeltaCdc.vacuumDeltas]] refuse pinned
  * pieces until [[release]]. Every page of the session reads the SAME
  * frozen composition, so pages are disjoint and complete no matter
  * how many merges or compactions land meanwhile (new epochs write NEW
  * version/delta directories — the pinned ones are immutable once
  * their epoch's checkpoint commits).
  *
  * `page` serves one request against the pinned state through the full
  * search DSL — `sort` + `search_after` IS the pagination surface; the
  * PIT only fixes what table it runs over.
  *
  * Pins live in [[graft.sources.VersionPointer]]'s one table. One
  * documented hazard carries over from the crash-replay contract: a
  * replayed epoch overwrites its OWN `v=`/`d=` directory, so a pin
  * taken on an epoch whose checkpoint never committed can see that one
  * directory rewritten — pins on committed epochs (the pointer-resolved
  * base and the deltas below the next commit) are immutable.
  */
object TablePit {

  final case class Pit(targetDir: String, base: Option[Long], deltas: Seq[Long])

  private def pieces(pit: Pit): Seq[String] =
    pit.base.map(v => s"v=$v").toSeq ++ pit.deltas.map(d => s"d=$d")

  /** Resolve and pin the table's current state composition (see
    * [[VersionPointer.pin]]). Fails loud on an empty target (no
    * snapshot and no deltas — nothing to pin).
    */
  def open(targetDir: String): Pit =
    VersionPointer.pin(VersionPointer.fsOf(targetDir), targetDir, s"table $targetDir") { () =>
      val base = CdcStream.latestVersion(targetDir)
      val live = DeltaCdc.liveDeltas(targetDir, base)
      if (base.isEmpty && live.isEmpty)
        throw new IllegalStateException(
          s"table $targetDir holds no committed state — nothing to pin")
      val pit = Pit(targetDir, base, live)
      (pit, pieces(pit), pieces(pit))
    }

  /** End the session: drop one reference per pinned piece; at zero the
    * piece becomes vacuumable again. Double release fails loud.
    */
  def release(pit: Pit): Unit =
    VersionPointer.release(VersionPointer.fsOf(pit.targetDir), pit.targetDir, pieces(pit))

  /** The pinned state (tombstones filtered) — the same composition
    * [[DeltaCdc.readSnapshot]] serves, frozen at open time.
    */
  def read(spark: SparkSession, pit: Pit): DataFrame =
    DeltaCdc.stateFrom(spark, pit.targetDir, pit.base, pit.deltas)
      .map(CdcMerge.snapshot)
      .getOrElse(throw new IllegalStateException("empty pit"))

  /** One `search_after` page against the pinned state through the full
    * search DSL (sort / search_after / size / _source — the q123
    * keyset contract, now over a frozen table).
    */
  def page(spark: SparkSession, pit: Pit, request: String): DataFrame =
    graft.search.QueryDsl.search(read(spark, pit), request)
}
