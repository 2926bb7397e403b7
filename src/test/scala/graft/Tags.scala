package graft

import org.scalatest.Tag

/** Tests excluded by the default `sbt test` profile (build.sbt:
  * `-l graft.Slow`) and run by `sbt slowOnly` and `sbt full`. Reserved
  * for the 10×-scale rung re-runs (ScaleProbeSpec's `big` evaluation):
  * every invariant that only needs the 1× rungs stays untagged so the
  * default profile keeps probing it. */
object Slow extends Tag("graft.Slow")
