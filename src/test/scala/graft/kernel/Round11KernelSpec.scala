package graft.kernel

import org.scalatest.funsuite.AnyFunSuite

/** Round-11 kernel review regressions: first-segment-colon path encoding,
  * Retry-After overflow clamp. */
class Round11KernelSpec extends AnyFunSuite {

  test("PathCodec.encode: first-segment colon cannot null the path or leak a scheme") {
    // pre-fix: URI(null,null,"backup:final.parquet",null).getRawPath == null
    // → AddFile(path = null) committed, file orphaned, VACUUM deletes it
    val e = PathCodec.encode("backup:final.parquet")
    assert(e == "backup%3Afinal.parquet", s"got $e")
    assert(PathCodec.decode(e) == "backup:final.parquet")
    // digit-leading first segment used to THROW into the raw fallback
    val d = PathCodec.encode("2024-01:05.parquet")
    assert(d == "2024-01%3A05.parquet", s"got $d")
    assert(PathCodec.decode(d) == "2024-01:05.parquet")
    // colon in a LATER segment is legal in a relative URL — unchanged
    val l = PathCodec.encode("dir/a:b.parquet")
    assert(l == "dir/a:b.parquet", s"got $l")
    assert(PathCodec.decode(l) == "dir/a:b.parquet")
    // spaces and existing behavior unchanged
    assert(PathCodec.encode("x y.parquet") == "x%20y.parquet")
    assert(PathCodec.decode("x%20y.parquet") == "x y.parquet")
  }

  test("HttpWire.retryAfterMs: clamped, overflow-proof, date form") {
    assert(HttpWire.retryAfterMs("2") == Some(2000L))
    assert(HttpWire.retryAfterMs("0") == Some(0L))
    // pre-fix: 1e17 seconds * 1000 overflowed Long negative → Some(0) =
    // zero pace, the hammering the clamp exists to stop
    assert(HttpWire.retryAfterMs("99999999999999999") == Some(HttpWire.MaxRetryAfterMs))
    assert(HttpWire.retryAfterMs("120") == Some(HttpWire.MaxRetryAfterMs))
    // HTTP-date in the past clamps to 0, garbage is None
    assert(HttpWire.retryAfterMs("Wed, 21 Oct 2015 07:28:00 GMT") == Some(0L))
    assert(HttpWire.retryAfterMs("soon") == None)
  }
}
