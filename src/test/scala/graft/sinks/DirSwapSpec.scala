package graft.sinks

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite

/** [[DirSwap]] on the plain local filesystem with tiny directories (no
  * Spark): what `recover` does in every combination of `live` present
  * or missing, `aside` present or missing and `staged` complete,
  * incomplete or missing; `publish`'s swap, its rollback when the
  * promote is refused, and its race with a concurrent `recover`. Plus
  * the source gate that keeps the swap in one place.
  */
class DirSwapSpec extends AnyFunSuite {

  /** A local filesystem whose `rename` can be intercepted: `onRename`
    * returns `Some(result)` to answer instead of renaming. `onDelete`
    * runs before each delete.
    */
  private final class TestFs extends RawLocalFileSystem {
    var onRename: (Path, Path) => Option[Boolean] = (_, _) => None
    var onDelete: Path => Unit = _ => ()
    override def rename(src: Path, dst: Path): Boolean =
      onRename(src, dst).getOrElse(super.rename(src, dst))
    override def delete(p: Path, recursive: Boolean): Boolean = {
      onDelete(p)
      super.delete(p, recursive)
    }
  }

  private def triple(): (TestFs, DirSwap) = {
    val fs = new TestFs
    fs.initialize(URI.create("file:///"), new Configuration())
    val base = Files.createTempDirectory("dirswap").toString
    (fs, DirSwap(fs, new Path(s"$base/t"), new Path(s"$base/t.staged"),
      new Path(s"$base/t.aside")))
  }

  /** A directory holding one file that names the copy it is. */
  private def copy(dir: Path, name: String, complete: Boolean = false): Unit = {
    Files.createDirectories(Paths.get(dir.toString))
    Files.write(Paths.get(s"$dir/who"), name.getBytes(UTF_8))
    if (complete) Files.createFile(Paths.get(s"$dir/_SUCCESS"))
  }

  private def who(dir: Path): Option[String] =
    Some(Paths.get(s"$dir/who")).filter(Files.exists(_))
      .map(p => new String(Files.readAllBytes(p), UTF_8))

  private def present(dir: Path): Boolean = Files.exists(Paths.get(dir.toString))

  // (live present, aside present, staged) → (live afterwards, aside
  // kept, staged kept); recover returns whether live exists afterwards
  private val States = for {
    live <- Seq(true, false)
    aside <- Seq(true, false)
    staged <- Seq("complete", "incomplete", "missing")
  } yield (live, aside, staged)

  private def expected(live: Boolean, aside: Boolean,
      staged: String): (Option[String], Boolean, Boolean) =
    if (live) (Some("live"), aside, staged != "missing")
    else if (aside) (Some("aside"), false, false)
    else if (staged == "complete") (Some("staged"), false, false)
    else (None, false, staged == "incomplete")

  for ((live, aside, staged) <- States) {
    def word(b: Boolean) = if (b) "present" else "missing"
    test(s"recover: live ${word(live)}, aside ${word(aside)}, staged $staged") {
      val (_, s) = triple()
      if (live) copy(s.live, "live")
      if (aside) copy(s.aside, "aside")
      if (staged != "missing") copy(s.staged, "staged", complete = staged == "complete")
      val (liveAfter, asideKept, stagedKept) = expected(live, aside, staged)
      assert(s.recover() == liveAfter.isDefined)
      assert(who(s.live) == liveAfter)
      assert(present(s.aside) == asideKept && present(s.staged) == stagedKept,
        s"aside ${present(s.aside)}, staged ${present(s.staged)}")
    }
  }

  test("publish swaps staged in over live and a stale aside, leaving neither") {
    val (_, s) = triple()
    copy(s.live, "live")
    copy(s.aside, "stale")
    copy(s.staged, "staged", complete = true)
    s.publish()
    assert(who(s.live) == Some("staged"))
    assert(!present(s.aside) && !present(s.staged))
  }

  test("publish with no live copy promotes staged") {
    val (_, s) = triple()
    copy(s.staged, "staged", complete = true)
    s.publish()
    assert(who(s.live) == Some("staged") && !present(s.staged))
  }

  test("publish over a copy a crash stranded aside supersedes it") {
    val (_, s) = triple()
    copy(s.aside, "previous")
    copy(s.staged, "staged", complete = true)
    s.publish()
    assert(who(s.live) == Some("staged"))
    assert(!present(s.aside) && !present(s.staged))
  }

  test("a refused promote restores live and names where the new copy is") {
    val (fs, s) = triple()
    copy(s.live, "live")
    copy(s.staged, "staged", complete = true)
    fs.onRename = (src, _) => if (src == s.staged) Some(false) else None
    val e = intercept[IllegalStateException](s.publish())
    assert(e.getMessage.contains(s"could not promote ${s.staged} to ${s.live}") &&
      e.getMessage.contains("previous copy restored"), e.getMessage)
    assert(who(s.live) == Some("live") && who(s.staged) == Some("staged"))
    assert(!present(s.aside))
  }

  test("a refused promote and rollback name where each copy is") {
    val (fs, s) = triple()
    copy(s.live, "live")
    copy(s.staged, "staged", complete = true)
    fs.onRename = (src, _) =>
      if (src == s.staged || src == s.aside) Some(false) else None
    val e = intercept[IllegalStateException](s.publish())
    assert(e.getMessage.contains(s"the previous copy is at ${s.aside}") &&
      e.getMessage.contains(s"the new copy at ${s.staged}"), e.getMessage)
    assert(!present(s.live) && who(s.aside) == Some("live") &&
      who(s.staged) == Some("staged"))
    // once renames work again, the next recover rolls back to it
    fs.onRename = (_, _) => None
    assert(s.recover() && who(s.live) == Some("live") && !present(s.staged))
  }

  test("a promote lost to a concurrent recover succeeds") {
    val (fs, s) = triple()
    copy(s.live, "live")
    copy(s.staged, "staged", complete = true)
    // a reader lands between the two renames: it drops staged and
    // rolls back to aside, so the promote finds no source
    fs.onRename = (src, _) => {
      if (src == s.staged) {
        fs.onRename = (_, _) => None
        assert(s.recover())
      }
      None
    }
    s.publish()
    assert(who(s.live) == Some("live"))
    assert(!present(s.aside) && !present(s.staged))
  }

  test("a rollback that lands after a racing promote leaves no nested copy") {
    val (fs, s) = triple()
    // mid-publish: live moved aside, the new copy not yet promoted
    copy(s.aside, "live")
    copy(s.staged, "staged", complete = true)
    // the writer's promote lands just before the reader drops staged,
    // so the reader's rollback moves aside INTO the new live
    fs.onDelete = p => if (p == s.staged) {
      fs.onDelete = _ => ()
      assert(fs.rename(s.staged, s.live))
    }
    assert(s.recover())
    assert(who(s.live) == Some("staged"))
    assert(!present(new Path(s.live, s.aside.getName)) && !present(s.aside))
  }

  test("only DirSwap, BatchState, Battery's landing helper and Probe rename in src/main") {
    val root = Paths.get(sys.props("user.dir"), "src", "main")
    assert(Files.isDirectory(root), s"no source tree at $root")
    val walk = Files.walk(root)
    val sources =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    // (file, line, nearest def above) of every code line calling `.rename(`
    val renames = sources.flatMap { f =>
      val lines = Files.readAllLines(f, UTF_8).asScala.toIndexedSeq
      lines.indices.filter { i =>
        val t = lines(i).trim
        !t.startsWith("*") && !t.startsWith("//") && t.contains(".rename(")
      }.map { i =>
        val enclosing = (i to 0 by -1).iterator.map(lines(_))
          .map("""\bdef\s+(\w+)""".r.findFirstMatchIn(_)).collectFirst {
            case Some(m) => m.group(1)
          }
        (f.getFileName.toString, i + 1, enclosing.getOrElse(""))
      }
    }
    val allowed = Set("DirSwap.scala", "BatchState.scala", "Probe.scala")
    val stray = renames.filterNot { case (file, _, fn) =>
      allowed(file) || (file == "Battery.scala" && fn == "landShard")
    }
    assert(stray.isEmpty, "renames outside DirSwap: " +
      stray.map { case (file, line, _) => s"$file:$line" }.mkString(", "))
    assert(renames.count(_._1 == "Battery.scala") == 1,
      "Battery lands watch-dir files through one helper")
  }
}
