package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Degraded-mode position checkpointing — the reference dual-writes its
  * binlog position to Redis AND a file on every save and restores from
  * whichever survives (reference `main.go:287-306`, `354-360`), so losing
  * either store alone never loses the position. Spark's own offset/commit
  * log is the engine's canonical checkpoint (strictly better-defined); this
  * store is the operational mirror of it — an external, human-readable
  * position surface that tolerates the loss or corruption of either copy.
  *
  * Both copies are written via temp-file + atomic rename (a reader never
  * sees a torn write), and a failure writing one copy does not fail the
  * other — that is the degraded mode. `load()` returns the FRESHEST
  * readable copy, mirroring the reference's prefer-the-survivor restore.
  */
final class DualPositionStore(primary: Path, secondary: Path) {

  private def writeOne(target: Path, json: String): Boolean = {
    var tmp: Path = null
    try {
      if (target.getParent != null) Files.createDirectories(target.getParent)
      tmp = Files.createTempFile(
        if (target.getParent != null) target.getParent else target.toAbsolutePath.getParent,
        ".pos-", ".tmp")
      Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      true
    } catch {
      case _: Exception =>
        // don't leak one temp file per failed commit
        if (tmp != null) { try Files.deleteIfExists(tmp) catch { case _: Exception => () } }
        false
    }
  }

  /** Write the position to both stores; succeeds if EITHER write lands
    * (degraded mode keeps running on one store, like the reference when
    * Redis is down, `main.go:354-360`). Returns how many copies landed.
    */
  def save(off: LogOffset): Int = {
    val json = off.json()
    Seq(primary, secondary).count(writeOne(_, json))
  }

  private def readOne(target: Path): Option[LogOffset] =
    try {
      if (!Files.exists(target)) None
      else LogOffset.parse(new String(Files.readAllBytes(target), StandardCharsets.UTF_8))
    } catch { case _: Exception => None }

  /** Freshest readable position, from whichever copies survive; None only
    * when BOTH are missing or corrupt. Freshness is rotation order,
    * `(name, pos)`: byte positions restart in every binlog file, so a stale
    * copy from an older, longer file must not win on `pos` alone. A single
    * file has one constant name, and a legacy copy without a name reads as
    * "" — it never outranks a named copy.
    */
  def load(): Option[LogOffset] =
    Seq(primary, secondary).flatMap(readOne).maxByOption(o => (o.name, o.pos))
}

object DualPositionStore {
  /** The mirror a source keeps under its `positionDir` option. */
  def in(dir: String): DualPositionStore = {
    val base = Paths.get(dir)
    new DualPositionStore(base.resolve("position.json"), base.resolve("position.backup.json"))
  }
}
