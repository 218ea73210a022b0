package graft.streaming {

  /** The replay driver's dir helpers, reachable from the spec below. */
  object ReplayDirs {
    def runDir(): String = ReplayDriver.runDir("dirs_spec_run")
    def stagedDir(): String = ReplayDriver.staged("dirs_spec", "k")(_ => ())
  }
}

package org.apache.spark.sql {

  import org.apache.spark.util.ShutdownHookManager

  /** Every dir a replay writes comes from [[graft.streaming.ReplayDriver]]'s
    * `runDir` or its staging memo, and goes when the JVM exits: both
    * helpers register their dirs with Spark's shutdown-delete registry.
    * (In this package to reach the `private[spark]` registry, as
    * `GraftInternal` does.)
    */
  class ReplayDirsSpec extends graft.SparkSpecBase {

    test("run and staging dirs are deleted when the JVM exits") {
      Seq(graft.streaming.ReplayDirs.runDir(),
          graft.streaming.ReplayDirs.stagedDir()).foreach { d =>
        assert(ShutdownHookManager.hasShutdownDeleteDir(new java.io.File(d)), d)
      }
    }
  }
}
