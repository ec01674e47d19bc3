package graft.store

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.scalatest.funsuite.AnyFunSuite

/** Task-side spill files (the index build's key spill): a local dir that
  * cannot take the spill must not fail the publish. */
class SpillFileSpec extends AnyFunSuite {

  private val tmp = new java.io.File(System.getProperty("java.io.tmpdir")).getCanonicalFile

  private def spillIn(dir: java.io.File): java.io.File = {
    val f = DomainStore.createSpillFile("graft-spill-test-", ".keys", dir)
    try {
      assert(f.isFile && f.length() == 0L)
      Files.write(f.toPath, Array[Byte](1, 2, 3)) // writable where it landed
      f.getParentFile.getCanonicalFile
    } finally f.delete()
  }

  test("a spill dir that exists but cannot be written falls back to java.io.tmpdir") {
    val ro = Files.createTempDirectory("graft-spill-ro")
    try {
      Files.setPosixFilePermissions(ro, PosixFilePermissions.fromString("r-xr-xr-x"))
      // a superuser writes through permission bits; then the dir itself
      // takes the spill, which is right too
      val writable = ro.toFile.canWrite
      val landed = spillIn(ro.toFile)
      assert(landed === (if (writable) ro.toFile.getCanonicalFile else tmp))
    } finally {
      Files.setPosixFilePermissions(ro, PosixFilePermissions.fromString("rwx------"))
      Files.delete(ro)
    }
    // a dir removed between resolution and the spill fails createTempFile
    // for every user: the retry must land on tmp
    val gone = Files.createTempDirectory("graft-spill-gone").toFile
    assert(gone.delete())
    assert(spillIn(gone) === tmp)
  }
}
