"""HTTP replication downloader (S5): osmosis layout, atomic landing,
404-vs-error wait behavior, and the download->apply composition — all
against file:// fixtures and a loopback http.server (no network).

Reference: vendor go-osm replication/internal/source/source.go,
update/cmd.go:386-411 (expBackoff)."""

import gzip
import http.server
import shutil
import threading
import urllib.error

import pytest
from pyspark.sql import functions as F

from imposm3_spark.diff.download import DiffDownloader, ExpBackoff, NotAvailable, seq_path
from imposm3_spark.diff.runner import ReplicationRunner, write_state_txt
from imposm3_spark.diff.update import OsmState
from imposm3_spark.mapping.config import load_mapping
from imposm3_spark.pipeline.engine import ImportPipeline
from imposm3_spark.sources.osm_xml import read_osm_xml


def test_seq_path_layout():
    # N = AAA*1000000 + BBB*1000 + CCC (source.go:38-44)
    assert seq_path(0) == "000/000/000"
    assert seq_path(7) == "000/000/007"
    assert seq_path(1_234_567) == "001/234/567"
    assert seq_path(999_999_999) == "999/999/999"


def test_exp_backoff_schedule():
    eb = ExpBackoff(minimum=2.0, maximum=300.0)
    waits = [eb.next_wait() for _ in range(10)]
    assert waits == [2, 4, 8, 16, 32, 64, 128, 256, 300, 300]
    eb.reset()
    assert eb.next_wait() == 2


def _publish(remote, seq: int, body: bytes = b"<osmChange/>"):
    p = remote / (seq_path(seq) + ".osc.gz")
    p.parent.mkdir(parents=True, exist_ok=True)
    p.write_bytes(gzip.compress(body))
    write_state_txt(remote / (seq_path(seq) + ".state.txt"), seq)


def test_file_transport_roundtrip(tmp_path):
    remote = tmp_path / "remote"
    remote.mkdir()
    _publish(remote, 3)
    landing = tmp_path / "landing"
    dl = DiffDownloader(url=remote.as_uri(), dest=str(landing))
    assert dl.fetch_sequence(3, max_tries=1) is True
    assert (landing / "000/000/003.osc.gz").exists()
    assert (landing / "000/000/003.state.txt").exists()
    # idempotent: re-fetch keeps the existing file (source.go:114-116)
    before = (landing / "000/000/003.osc.gz").read_bytes()
    assert dl.fetch_sequence(3, max_tries=1) is True
    assert (landing / "000/000/003.osc.gz").read_bytes() == before
    # missing sequence -> NotAvailable, not a transport error
    with pytest.raises(NotAvailable):
        dl.download(4, ".osc.gz")


def test_head_sequence_and_mirror(tmp_path):
    remote = tmp_path / "remote"
    remote.mkdir()
    for s in (1, 2, 3):
        _publish(remote, s)
    write_state_txt(remote / "state.txt", 3)
    landing = tmp_path / "landing"
    dl = DiffDownloader(url=remote.as_uri(), dest=str(landing))
    assert dl.head_sequence() == 3
    assert dl.mirror(1) == 3
    for s in (1, 2, 3):
        assert (landing / (seq_path(s) + ".osc.gz")).exists()


@pytest.fixture()
def http_remote(tmp_path):
    remote = tmp_path / "httproot"
    remote.mkdir()
    class Handler(http.server.SimpleHTTPRequestHandler):
        def __init__(self, *a, **kw):
            super().__init__(*a, directory=str(remote), **kw)

        def log_message(self, *a):
            pass

    httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    yield remote, f"http://127.0.0.1:{httpd.server_address[1]}/"
    httpd.shutdown()


def test_http_404_then_publish(http_remote, tmp_path):
    """404 means not-yet-published: fixed na_wait, retry, success once the
    file appears mid-loop (source.go:163-175)."""
    remote, url = http_remote
    waits = []

    def fake_sleep(s):
        waits.append(s)
        if len(waits) == 2:  # published while we were waiting
            _publish(remote, 5)

    landing = tmp_path / "landing"
    dl = DiffDownloader(url=url, dest=str(landing), sleep=fake_sleep)
    assert dl.download_till_success(5, ".osc.gz", max_tries=10) is False
    assert waits == [10.0, 10.0]  # na_wait, not backoff
    assert (landing / "000/000/005.osc.gz").exists()


def test_http_transport_error_backs_off_exponentially(tmp_path):
    """Connection-refused (no server) is a transport error: exponential
    2 s -> 4 s -> 8 s backoff, then the error surfaces (cmd.go:386-411)."""
    waits = []
    dl = DiffDownloader(
        url="http://127.0.0.1:9/",  # discard port: connection refused
        dest=str(tmp_path / "landing"),
        sleep=waits.append,
        timeout=0.5,
    )
    with pytest.raises(urllib.error.URLError):
        dl.download_till_success(1, ".osc.gz", max_tries=4)
    assert waits == [2.0, 4.0, 8.0]


def test_runner_drains_remote_endpoint(spark, tmp_path, http_remote):
    """End-to-end `imposm run` shape: the runner pulls sequences it does
    not have from the HTTP feed, applies them through the normal green
    apply path, and checkpoints exactly-once."""
    remote, url = http_remote
    with open("/root/reference/test/route_relation.osc", "rb") as f:
        osc = f.read()
    p = remote / "000/000/001.osc.gz"
    p.parent.mkdir(parents=True)
    p.write_bytes(gzip.compress(osc))
    write_state_txt(remote / "000/000/001.state.txt", 1)

    mapping = load_mapping("/root/reference/test/route_relation_mapping.yml")
    nodes, ways, rels = read_osm_xml(spark, "/root/reference/test/route_relation.osm")
    pipe = ImportPipeline(mapping, srid=3857)
    tables = {n: df.localCheckpoint() for n, df in pipe.run(nodes, ways, rels).items()}

    landing = tmp_path / "landing"
    runner = ReplicationRunner(
        spark=spark,
        pipe=pipe,
        state=OsmState(nodes, ways, rels),
        tables=tables,
        diff_dir=str(landing),
        state_file=str(tmp_path / "last.state.txt"),
        downloader=DiffDownloader(url=url, dest=str(landing)),
    )
    assert runner.run() == 1
    assert runner.current_sequence() == 1
    rows = (
        runner.tables["route_members"]
        .filter((F.col("osm_id") == -100902) & (F.col("member") == 100503))
        .collect()
    )
    assert len(rows) == 1 and rows[0]["name"] == "new name"
    # nothing new published -> no-op, state unchanged
    assert runner.run() == 0


class _RaisingDownloader:
    def __init__(self, exc: Exception):
        self.exc = exc

    def fetch_sequence(self, seq, max_tries=None):
        raise self.exc


def _offline_runner(tmp_path, exc):
    landing = tmp_path / "landing"
    landing.mkdir()
    return ReplicationRunner(
        spark=None,
        pipe=None,
        state=None,
        tables={},
        diff_dir=str(landing),
        state_file=str(tmp_path / "last.state.txt"),
        downloader=_RaisingDownloader(exc),
    )


def test_runner_treats_unpublished_sequence_as_no_new_batch(tmp_path):
    runner = _offline_runner(tmp_path, NotAvailable("file:///feed/000/000/001.osc.gz"))
    assert runner.run() == 0
    assert runner.current_sequence() == 0


def test_runner_propagates_downloader_bugs(tmp_path):
    """Only 'not yet published' and transport errors mean 'no new
    sequence'; any other error from the feed path surfaces."""
    runner = _offline_runner(tmp_path, ValueError("bad sequence path"))
    with pytest.raises(ValueError, match="bad sequence path"):
        runner.run()
