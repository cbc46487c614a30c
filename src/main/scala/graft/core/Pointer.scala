package graft.core

import java.nio.file.{Files, LinkOption, NoSuchFileException, NotLinkException, Path, Paths,
  StandardCopyOption, StandardOpenOption}

/** A small published value at a fixed path, swapped atomically: the
  * store's `_current` snapshot pointer, a sync spec's watermark, a
  * change feed's cursor.
  *
  * The path is a SYMLINK whose link text carries the value:
  * `<name>@<seq>-<uid>.<value>`. A sibling regular file of that name
  * holds the same value, so `Files.readString(path)` keeps working for
  * outside readers. A publish writes the sibling, creates a fresh link
  * and renames it over the path. Engine readers ([[read]]) decode the
  * value from the link text alone: the link text lives in the inode
  * that the rename publishes, so a crash can never expose an empty or
  * half-written value, whatever became of the sibling's data blocks.
  *
  * Why not the classic temp-file + rename: renaming a regular file
  * over an existing one makes ext4 (`auto_da_alloc`) flush the new
  * file's data first — tens of ms per publish on a sync tick that
  * publishes six pointers. Renaming a symlink carries no data blocks.
  * Neither form fsyncs; the engine never flushed its data files, so
  * the pointer's durability is the filesystem journal's, as before.
  *
  * Every publish uses a fresh sibling name, and its cleanup keeps the
  * live target and the one it replaced (anything with an older `seq`
  * goes). It matches only `<name>@<digits>-<hex8>.<value>` regular
  * files, so pointer `wm.a` never touches `wm.a.b`'s siblings, and a
  * concurrent writer that read the same pointer keeps its in-flight
  * sibling. A LEGACY regular-file pointer (the old layout) is still
  * read, and the next publish replaces it with a link.
  *
  * Object stores have no symlinks: a connector-backed store would
  * publish its pointer as a conditional small-object put instead.
  */
object Pointer {

  private def sibling(name: String) =
    ("\\Q" + name + "\\E@(\\d+)-[0-9a-f]{8}\\.(.+)").r

  /** Values must fit in one file name and leave the sibling pattern
    * unambiguous.
    */
  private def validValue(v: String): Boolean =
    v.nonEmpty && v.forall(c => c != '/' && c != '@' && !c.isControl)

  /** The published value at `p`, or None when nothing is published. */
  def read(p: Path): Option[String] =
    try {
      val text = Files.readSymbolicLink(p).toString
      sibling(p.getFileName.toString).unapplySeq(text) match {
        case Some(List(_, v)) => Some(v)
        case _ => Some(Files.readString(p).trim) // a foreign link: read through it
      }
    } catch {
      case _: NoSuchFileException => None
      case _: NotLinkException => // legacy regular file
        try Some(Files.readString(p).trim)
        catch { case _: NoSuchFileException => read(p) } // converted meanwhile
    }

  /** Atomically replace the value at `p` (creating parent dirs). */
  def publish(p: Path, value: String): Unit = {
    require(validValue(value), s"pointer value '$value' at $p is empty or not file-name safe")
    val dir = p.toAbsolutePath.getParent
    Files.createDirectories(dir)
    val name = p.getFileName.toString
    val pattern = sibling(name)
    val oldSeq =
      try pattern.unapplySeq(Files.readSymbolicLink(p).toString).map(_.head.toLong)
      catch { case _: NoSuchFileException | _: NotLinkException => None }
    val seq = oldSeq.fold(1L)(_ + 1)
    val stem = f"$name@$seq-${java.util.concurrent.ThreadLocalRandom.current.nextInt()}%08x"
    val target = s"$stem.$value"
    Files.writeString(dir.resolve(target), value, StandardOpenOption.CREATE_NEW)
    val link = dir.resolve(stem)
    Files.createSymbolicLink(link, Paths.get(target))
    Files.move(link, dir.resolve(name),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    oldSeq.foreach { keepFrom =>
      val ls = Files.list(dir)
      try ls.forEach { f =>
        pattern.unapplySeq(f.getFileName.toString) match {
          case Some(List(s, _)) if s.toLong < keepFrom &&
              Files.isRegularFile(f, LinkOption.NOFOLLOW_LINKS) =>
            Files.deleteIfExists(f)
          case _ =>
        }
      } finally ls.close()
    }
  }
}
