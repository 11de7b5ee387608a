package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.{Probe, TempDirs}

/** `Probe plan` dumps are evidence diffed across JVMs, so the scratch
  * paths a plan names must read the same in every JVM. */
class ProbeSpec extends AnyFunSuite {

  test("plan dumps mask scratch roots and random temp-dir suffixes") {
    val tmp = System.getProperty("java.io.tmpdir").stripSuffix("/")
    val fast = TempDirs.resolvedRoot.stripSuffix("/")
    val plan =
      s"""Location: InMemoryFileIndex [file:$tmp/graft-artifacts13367088134842480627/_data_sf0_001_5871f767dd1df9e5/pairs_jaccard]
         |+- BatchScan paged_table($fast/graft-etl-pages2987136728740536653/graft-pages12228417209926580987) (1)
         |Location: InMemoryFileIndex [file:/data/sf0.001/documents.parquet], graft-id 42
         |""".stripMargin
    assert(Probe.maskScratch(plan) ==
      """Location: InMemoryFileIndex [file:<tmp>/graft-artifacts<id>/_data_sf0_001_5871f767dd1df9e5/pairs_jaccard]
        |+- BatchScan paged_table(<tmp>/graft-etl-pages<id>/graft-pages<id>) (1)
        |Location: InMemoryFileIndex [file:/data/sf0.001/documents.parquet], graft-id 42
        |""".stripMargin)
    // two scratch dirs of one prefix mask to the same text
    val (a, b) = (TempDirs.createFast("graft-mask"), TempDirs.createFast("graft-mask"))
    try {
      assert(a != b)
      assert(Probe.maskScratch(s"[file:$a/x]") == "[file:<tmp>/graft-mask<id>/x]")
      assert(Probe.maskScratch(s"[file:$a/x]") == Probe.maskScratch(s"[file:$b/x]"))
    } finally Seq(a, b).foreach(TempDirs.deleteRecursively)
  }
}
