package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LakeIO

class LakeIOSpec extends AnyFunSuite {

  test("a local overwrite through newOutput leaves no stale .crc: the " +
      "checksummed local filesystem reads the new bytes back") {
    val fs = FileSystem.getLocal(new Configuration())
    val f = new Path(Files.createTempDirectory("lakeio").toString, "part.json")
    // the checksummed create writes a `.part.json.crc` sibling
    val first = fs.create(f, true)
    try first.write("hello world\n".getBytes("UTF-8")) finally first.close()
    assert(fs.exists(new Path(f.getParent, ".part.json.crc")))
    val out = LakeIO.newOutput(fs, f, true)
    try out.write("HELLO WORLD\n".getBytes("UTF-8")) finally out.close()
    val in = fs.open(f)
    val back = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    assert(back == "HELLO WORLD\n")
  }
}
