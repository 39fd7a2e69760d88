package graft.streaming

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class BatchMarkerSpec extends AnyFunSuite {

  test("a commit over an existing marker reads back the new id and leaves no .tmp") {
    val path = Files.createTempDirectory("graft-marker").resolve("t.lastbatch").toString
    assert(BatchMarker.lastApplied(path, lenient = false) === -1L)
    BatchMarker.commit(path, 3L)
    BatchMarker.commit(path, 4L)
    assert(BatchMarker.lastApplied(path, lenient = false) === 4L)
    assert(!new File(path + ".tmp").exists())
  }
}
