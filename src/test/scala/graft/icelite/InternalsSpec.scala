package graft.icelite

import org.scalatest.funsuite.AnyFunSuite

/** Pure-function internals that guard security invariants: REST
  * metadata-location confinement (scheme-only warehouse shapes,
  * traversal, non-ASCII names). No SparkSession needed.
  */
class InternalsSpec extends AnyFunSuite {

  test("confinement accepts a scheme-only warehouse (s3://bucket) and keeps blocking traversal") {
    val ok = RestCatalogServer.confinedUnder _
    // scheme+authority with an EMPTY path: locations under it must pass
    assert(ok("s3://bucket", "s3://bucket/wh/db/t/metadata/v3.metadata.json"))
    // the warehouse itself is not strictly under itself
    assert(!ok("s3://bucket", "s3://bucket"))
    // other bucket / other scheme with a matching path shape must fail
    assert(!ok("s3://bucket", "s3://other/wh/db/t/metadata/v3.metadata.json"))
    assert(!ok("s3://bucket", "gs://bucket/wh/db/t/metadata/v3.metadata.json"))
    // traversal out of a scheme-only warehouse cannot escape the root
    assert(ok("s3://bucket", "s3://bucket/a/../b/metadata.json")) // normalizes to /b — still under /
    assert(!ok("s3://bucket/wh", "s3://bucket/wh/../etc/passwd"))
    // local traversal and absolute escapes still rejected
    assert(!ok("/wh", "/wh/../etc/passwd"))
    assert(!ok("/wh", "/etc/passwd"))
    assert(ok("/wh", "/wh/db/t/metadata/v1.metadata.json"))
    // URI-illegal but filesystem-legal (spaces) still commits
    assert(ok("/wh with space", "/wh with space/db/t/metadata/v1.metadata.json"))
    assert(!ok("/wh with space", "/wh with space/../etc/passwd"))
  }

  test("confinement reads a warehouse whose path has a space and a non-ASCII name") {
    val ok = RestCatalogServer.confinedUnder _
    val wh = "/tmp/a table \u00e9/wh"
    assert(ok(wh, s"$wh/db/t/metadata/v1.metadata.json"))
    assert(ok(s"file:$wh", s"$wh/db/t/metadata/v1.metadata.json"),
      "a qualified and a plain spelling of one local path are one path")
    assert(!ok(wh, s"$wh/../etc/passwd"))
    assert(!ok(wh, "/tmp/a table e/wh/db/t/metadata/v1.metadata.json"))
    assert(!ok(wh, wh))
  }
}
