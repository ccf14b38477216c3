"""FGB remote path vs a simulated S3 endpoint (VERDICT r5 directive #6).

No object-store emulator is installable in this environment, so the test
stands up a localhost HTTP server that behaves like S3's presigned-GET
surface: requests must carry X-Amz-* query parameters, Range requests are
honored with 206 + Content-Range, and transient faults are injected —
every path's FIRST data GET returns 500 (throttle), its SECOND drops the
connection mid-handshake (reset). The engine's HttpRange retry/backoff
must absorb both, and the scan must arrive in coalesced range requests
rather than per-feature round trips.

The HttpRange retry and 403 tests serve a fixed byte body defined in this
module (``s3sim_bytes``), so they run on any host. Only the end-to-end
scan serves ``countries.fgb`` (``s3sim``), since it compares the remote
read with a local read of that file; it is skipped where the file is
absent.
"""

import http.server
import os
import threading
from urllib.parse import urlparse, parse_qs

import pytest

FGB = "/root/reference/fixtures/flatgeobuf/countries.fgb"
SIGNED_SUFFIX = (
    "X-Amz-Algorithm=AWS4-HMAC-SHA256"
    "&X-Amz-Credential=AKIATEST%2F20260815%2Fus-east-1%2Fs3%2Faws4_request"
    "&X-Amz-Signature=deadbeef"
)
# Body for the HttpRange-only tests: they never parse what they read.
SIM_BODY = b"fgb\x03fgb\x00" + bytes(range(256)) * 16


class _S3Sim:
    def __init__(self, body: bytes, fail_first_n: int = 2):
        self.body = body
        self.fail_first_n = fail_first_n
        self.lock = threading.Lock()
        self.get_count = 0
        self.range_headers = []
        self.injected = {"500": 0, "reset": 0}
        sim = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def log_message(self, *a):
                pass

            def _check_signed(self):
                q = parse_qs(urlparse(self.path).query)
                if "X-Amz-Signature" not in q or "X-Amz-Credential" not in q:
                    self.send_response(403)
                    self.end_headers()
                    return False
                return True

            def do_HEAD(self):
                if not self._check_signed():
                    return
                self.send_response(200)
                self.send_header("Content-Length", str(len(sim.body)))
                self.send_header("Accept-Ranges", "bytes")
                self.end_headers()

            def do_GET(self):
                if not self._check_signed():
                    return
                with sim.lock:
                    sim.get_count += 1
                    n = sim.get_count
                # transient-fault injection: first GET -> 500 throttle,
                # second -> connection reset; everything after succeeds
                if n <= sim.fail_first_n:
                    if n == 1:
                        with sim.lock:
                            sim.injected["500"] += 1
                        self.send_response(500)
                        self.send_header("Content-Length", "0")
                        self.end_headers()
                        return
                    with sim.lock:
                        sim.injected["reset"] += 1
                    self.connection.close()
                    return
                rng = self.headers.get("Range")
                data = sim.body
                if rng and rng.startswith("bytes="):
                    with sim.lock:
                        sim.range_headers.append(rng)
                    lo, hi = rng[len("bytes="):].split("-")
                    lo = int(lo)
                    hi = min(int(hi), len(data) - 1)
                    chunk = data[lo : hi + 1]
                    self.send_response(206)
                    self.send_header(
                        "Content-Range", f"bytes {lo}-{hi}/{len(data)}"
                    )
                    self.send_header("Content-Length", str(len(chunk)))
                    self.end_headers()
                    self.wfile.write(chunk)
                else:
                    self.send_response(200)
                    self.send_header("Content-Length", str(len(data)))
                    self.end_headers()
                    self.wfile.write(data)

        self.server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.port = self.server.server_address[1]
        self.thread = threading.Thread(
            target=self.server.serve_forever, daemon=True
        )
        self.thread.start()

    def stop(self):
        self.server.shutdown()
        self.server.server_close()


@pytest.fixture()
def s3sim():
    with open(FGB, "rb") as f:
        body = f.read()
    sim = _S3Sim(body)
    yield sim
    sim.stop()


@pytest.fixture()
def s3sim_bytes():
    sim = _S3Sim(SIM_BODY)
    yield sim
    sim.stop()


def _fast_retry_source(url):
    from geoarrow_rs_spark.io.ranges import HttpRange

    return HttpRange(url, timeout=5.0, max_retries=3, backoff_base=0.01)


def test_http_range_retries_through_transient_faults(s3sim_bytes):
    """A single read_at survives a 500 then a connection reset."""
    s3sim = s3sim_bytes
    url = f"http://127.0.0.1:{s3sim.port}/bucket/countries.fgb?{SIGNED_SUFFIX}"
    src = _fast_retry_source(url)
    data = src.read_at(0, 8)
    assert data == s3sim.body[:8]
    assert s3sim.injected == {"500": 1, "reset": 1}
    assert s3sim.get_count == 3  # two failures + the success


def test_http_range_unsigned_request_rejected(s3sim_bytes):
    """The simulated endpoint enforces the signed-GET surface (and 403 is
    NOT retried — permanent errors fail fast)."""
    s3sim = s3sim_bytes
    import urllib.error

    url = f"http://127.0.0.1:{s3sim.port}/bucket/countries.fgb"
    src = _fast_retry_source(url)
    with pytest.raises(urllib.error.HTTPError) as ei:
        src.read_at(0, 8)
    assert ei.value.code == 403
    # no retries on a permanent error: no fault was ever consumed
    assert s3sim.injected == {"500": 0, "reset": 0}


@pytest.mark.skipif(not os.path.exists(FGB), reason=f"needs {FGB}")
def test_fgb_scan_over_simulated_s3(spark, s3sim):
    """End-to-end: read_flatgeobuf against the signed endpoint — bbox scan
    equals the local read, retries absorbed, and the feature-body reads
    arrive coalesced (at least one range request serves several features,
    not one request per feature). The split at the request-size cap is
    test_io_formats.py::test_coalesce_ranges_merges_and_splits."""
    from geoarrow_rs_spark.io.flatgeobuf import _plan_fgb, read_flatgeobuf

    url = f"http://127.0.0.1:{s3sim.port}/bucket/countries.fgb?{SIGNED_SUFFIX}"
    bbox = (-20.0, 30.0, 40.0, 70.0)
    remote = sorted(map(tuple, read_flatgeobuf(spark, url, bbox=bbox).collect()))
    local = sorted(map(tuple, read_flatgeobuf(spark, FGB, bbox=bbox).collect()))
    assert remote == local and len(remote) > 10
    assert s3sim.injected["500"] == 1 and s3sim.injected["reset"] == 1
    # coalescing proof: the total successful-GET count is far below the
    # matched-feature count, and a Range GET spans more bytes than the
    # LARGEST single feature extent — it necessarily served several
    # coalesced members
    n_features = len(remote)
    n_gets = s3sim.get_count - 2  # minus the injected failures
    assert n_gets < n_features
    _, extents = _plan_fgb(FGB, bbox)
    max_extent = max(e - o for o, e in extents)
    spans = []
    for rng in s3sim.range_headers:
        lo, hi = rng[len("bytes="):].split("-")
        spans.append(int(hi) - int(lo) + 1)
    multi = [s for s in spans if s > max_extent]
    assert len(multi) >= 1, (
        f"expected a coalesced request (> {max_extent} bytes), spans={spans}"
    )
