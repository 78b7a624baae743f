package graft

import java.io.File
import org.apache.commons.io.FileUtils
import graft.core.Artifacts

/** The scratch-dir scheme: `<root>/<name>_<appTag>_<dirTag>` paths, and
  * the reap-then-wipe a fresh run starts from. */
class ArtifactsSpec extends SparkSpec {
  // an input dir nothing reads: only its tag names the scratch dirs
  private val dir = "/artifacts-spec/input"
  private val hour = 3600L * 1000

  test("scratchDir is app- and dir-keyed, and a pure path") {
    val p = Artifacts.scratchDir(spark, "e10", dir)
    assert(new File(p).getName === s"e10_${Artifacts.scratchTag(spark, dir)}")
    assert(Artifacts.scratchTag(spark, dir) ===
      s"${Artifacts.dirTag(spark.sparkContext.applicationId)}_${Artifacts.dirTag(dir)}")
    assert(Artifacts.scratchDir(spark, "e10", "/artifacts-spec/other") !== p)
    assert(!new File(p).exists(), "resolving a scratch dir created it")
  }

  test("freshScratchDir wipes its own dir and reaps only dead apps' same-name dirs") {
    val mine = new File(Artifacts.scratchDir(spark, "e10", dir))
    val root = mine.getParentFile
    val appTag = Artifacts.dirTag(spark.sparkContext.applicationId)
    val dirTag = Artifacts.dirTag(dir)
    /** A dir holding one file, last modified `ageMs` ago. */
    def staged(f: File, ageMs: Long): File = {
      FileUtils.writeStringToFile(new File(f, "part-0"), "x", "UTF-8")
      assert(f.setLastModified(System.currentTimeMillis() - ageMs))
      f
    }
    val dead = staged(new File(root, s"e10_deadbeef_$dirTag"), 7 * hour)
    val live = staged(new File(root, s"e10_feedbeef_$dirTag"), 0)
    val prefixOnly = staged(new File(root, s"e10staged_deadbeef_$dirTag"), 7 * hour)
    val ownOtherDir = staged(new File(root, s"e10_${appTag}_0"), 7 * hour)
    staged(mine, 0)
    try {
      assert(Artifacts.freshScratchDir(spark, "e10", dir) === mine.getPath)
      assert(!mine.exists(), "own dir not wiped")
      assert(!dead.exists(), "a dead app's same-name dir past the age gate survived")
      assert(live.exists(), "a live app's freshly modified dir was reaped")
      assert(prefixOnly.exists(), "a dir that only shares the name's prefix was reaped")
      assert(ownOtherDir.exists(), "this app's own dir for another input was reaped")
    } finally Seq(dead, live, prefixOnly, ownOtherDir, mine)
      .foreach(FileUtils.deleteQuietly)
  }
}
