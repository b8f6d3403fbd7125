package graft.sources

import graft.SparkSpec

class VersionedRootSpec extends SparkSpec {

  test("versioned layout: nextVersion counts unpublished dirs, pointer round-trips, unpointered paths resolve to themselves") {
    val base = tempDir("graft-vroot-").toString + "/root"
    // a fresh base starts at 1; resolve falls through to the path
    assert(VersionedRoot.nextVersion(spark, base) == 1)
    assert(VersionedRoot.resolve(spark, base) == base)
    assert(VersionedRoot.current(spark, base).isEmpty)
    // an UNPUBLISHED build still claims its number — an abandoned
    // build must never collide with the next one
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(VersionedRoot.versionDir(base, 1)))
    assert(VersionedRoot.nextVersion(spark, base) == 2)
    // publish v-1; readers follow the pointer
    VersionedRoot.publish(spark, base, 1)
    assert(VersionedRoot.current(spark, base).contains(s"$base/v-1"))
    assert(VersionedRoot.resolve(spark, base) == s"$base/v-1")
    // versions need not be dense: v-5 publishes over the gap, and
    // ROLLBACK (re-publishing an older number) is legal
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(VersionedRoot.versionDir(base, 5)))
    VersionedRoot.publish(spark, base, 5)
    assert(VersionedRoot.resolve(spark, base) == s"$base/v-5")
    assert(VersionedRoot.nextVersion(spark, base) == 6)
    VersionedRoot.publish(spark, base, 1)
    assert(VersionedRoot.resolve(spark, base) == s"$base/v-1")
    // prune reclaims only versions SUPERSEDED by the published one —
    // under the v-1 rollback nothing is older than current, so the
    // in-progress v-3 and the rollback source v-5 both survive even
    // at keep = 0 (deleting a build awaiting publish would defeat
    // nextVersion's no-collision guarantee)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(VersionedRoot.versionDir(base, 3)))
    assert(VersionedRoot.prune(spark, base, keep = 0).isEmpty)
    assert(new java.io.File(s"$base/v-3").exists() &&
      new java.io.File(s"$base/v-5").exists())
    // re-publish v-5: v-1 and v-3 are now superseded; keep = 1
    // retains the most recent of them (v-3) as rollback headroom
    VersionedRoot.publish(spark, base, 5)
    assert(VersionedRoot.prune(spark, base, keep = 1) == Seq(1))
    assert(new java.io.File(s"$base/v-5").exists() &&
      new java.io.File(s"$base/v-3").exists() &&
      !new java.io.File(s"$base/v-1").exists())
    // a corrupt pointer fails loudly, never silently serves the base
    // (the out-of-band overwrite also invalidates hadoop's checksum
    // sidecar — drop it so the read reaches the garbage content)
    val ptr = java.nio.file.Paths.get(base, "_current")
    java.nio.file.Files.writeString(ptr, "garbage")
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(base, "._current.crc"))
    intercept[IllegalArgumentException](VersionedRoot.resolve(spark, base))
  }

  test("publishVia: build-then-publish in one idiom; a throwing build " +
      "leaves the pointer untouched and never collides with the next") {
    val base = tempDir("graft-vroot-via-").toString + "/root"
    def write(dir: String, tag: String): Unit = {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, "data.txt"), tag)
    }
    val n1 = VersionedRoot.publishVia(spark, base)(write(_, "one"))
    assert(n1 == 1 && VersionedRoot.resolve(spark, base) == s"$base/v-1")
    // a build that throws publishes nothing: readers keep v-1, and the
    // abandoned directory still claims its number
    intercept[RuntimeException](VersionedRoot.publishVia(spark, base) {
      dir => write(dir, "torn"); throw new RuntimeException("boom")
    })
    assert(VersionedRoot.resolve(spark, base) == s"$base/v-1",
      "a failed build must not move the pointer")
    val n3 = VersionedRoot.publishVia(spark, base)(write(_, "three"))
    assert(n3 == 3, "the abandoned v-2 must keep its number claimed")
    assert(VersionedRoot.resolve(spark, base) == s"$base/v-3")
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$base/v-3", "data.txt")) == "three")
    // the superseded v-1 and the abandoned v-2 are both now prunable
    assert(VersionedRoot.prune(spark, base, keep = 0) == Seq(2, 1))
  }
}
