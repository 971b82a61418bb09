package graft

import java.nio.file.{Files, Paths}
import org.scalatest.Assertions

/** The reference checkout's shipped config store (sources.json,
  * destinations.json, mappings.json), read by the tests that compare with
  * its own bytes. Nothing in the repo determines sources.json or
  * destinations.json byte for byte, so those tests cancel, naming the path,
  * where the checkout is absent; mappings.json has a rebuilt copy under
  * src/test/resources/config. */
object ReferenceConfig {
  val dir = "/root/reference/data/config"

  def assumePresent(): Unit =
    Assertions.assume(Files.isDirectory(Paths.get(dir)), s"$dir absent")
}
