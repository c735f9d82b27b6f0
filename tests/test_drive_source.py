"""Custom Python DataSource connector (S4/S5): listing with pushed
prefix/MIME filters, page-sized partitions, chunked content read."""

from __future__ import annotations

import os

import pytest


def _register(spark):
    from airflow_loan_etl_pipeline_spark.sources.drive_source import (
        FileListingDataSource,
    )

    spark.dataSource.register(FileListingDataSource)


def test_listing_filters_and_paginates(spark, tmp_path):
    _register(spark)
    d = tmp_path / "landing"
    d.mkdir()
    for i in range(7):
        (d / f"loan_{i}.csv").write_text(f"id\n{i}\n")
    (d / "loan_extra.json").write_text("{}")
    (d / "other.csv").write_text("id\n9\n")

    df = (
        spark.read.format("file_listing")
        .option("path", str(d))
        .option("prefix", "loan_")
        .option("mime", "text/csv")
        .option("page_size", "3")
        .load()
    )
    rows = df.collect()
    # prefix AND mime pushed down: other.csv and loan_extra.json excluded
    assert sorted(r.name for r in rows) == [f"loan_{i}.csv" for i in range(7)]
    assert all(r.mime == "text/csv" for r in rows)
    assert all(r.size > 0 and r.modified > 0 for r in rows)
    # pagination -> ceil(7/3) = 3 input partitions (parallel pages)
    assert df.rdd.getNumPartitions() == 3


def test_content_read_matches_bytes(spark, tmp_path):
    _register(spark)
    d = tmp_path / "payloads"
    d.mkdir()
    blob = os.urandom(4096) * 3  # multi-chunk-ish payload
    (d / "loan_a.bin").write_bytes(blob)

    df = (
        spark.read.format("file_listing")
        .option("path", str(d))
        .option("prefix", "loan_")
        .option("with_content", "true")
        .load()
    )
    row = df.collect()[0]
    assert bytes(row.content) == blob
    assert row.size == len(blob)


def test_empty_dir_yields_empty_frame(spark, tmp_path):
    _register(spark)
    d = tmp_path / "empty"
    d.mkdir()
    df = (
        spark.read.format("file_listing").option("path", str(d)).load()
    )
    assert df.count() == 0


def test_listing_readers_raise_on_missing_dir(tmp_path):
    """A missing folder is an error, not an empty listing."""
    from airflow_loan_etl_pipeline_spark.sources.drive_source import (
        _ListingReader,
    )

    missing = {"path": str(tmp_path / "missing")}
    with pytest.raises(FileNotFoundError):
        _ListingReader(missing).partitions()


def _write_drive_fixture(root) -> None:
    """Record the Drive v3 responses the reference client would see:
    two files().list pages chained by nextPageToken + media bodies."""
    import json

    (root / "pages").mkdir(parents=True)
    (root / "media").mkdir()
    page1 = {
        "files": [
            {
                "id": "f1",
                "name": "loan_a.csv",
                "size": "10",
                "modifiedTime": "2024-03-01T10:00:00.000Z",
                "mimeType": "text/csv",
            },
            {
                "id": "f2",
                "name": "loan_b.csv",
                "size": "11",
                "modifiedTime": "2024-03-01T11:00:00.000Z",
                "mimeType": "text/csv",
            },
            {
                "id": "f3",
                "name": "notes.txt",
                "size": "5",
                "modifiedTime": "2024-03-01T12:00:00.000Z",
                "mimeType": "text/plain",
            },
        ],
        "nextPageToken": "tok2",
    }
    page2 = {
        "files": [
            {
                "id": "f4",
                "name": "loan_c.csv",
                "size": "12",
                "modifiedTime": "2024-03-02T09:30:00.000Z",
                "mimeType": "text/csv",
            }
        ]
    }
    (root / "pages" / "_start.json").write_text(json.dumps(page1))
    (root / "pages" / "tok2.json").write_text(json.dumps(page2))
    (root / "media" / "f1").write_bytes(b"id,amt\n1,100\n")
    (root / "media" / "f2").write_bytes(b"id,amt\n2,200\n")
    (root / "media" / "f3").write_bytes(b"hello")
    (root / "media" / "f4").write_bytes(b"id,amt\n4,400\n" * 100)


def test_drive_api_replay_listing(spark, tmp_path):
    """api=drive: files().list pagination with the reference's pushed
    prefix/MIME filters (google_drive_download.py:84-97), replayed
    from recorded fixtures — no network."""
    _register(spark)
    rec = tmp_path / "drive_rec"
    _write_drive_fixture(rec)
    rows = (
        spark.read.format("file_listing")
        .option("api", "drive")
        .option("replay_dir", str(rec))
        .option("prefix", "loan_")
        .option("mime", "text/csv")
        .load()
        .orderBy("name")
        .collect()
    )
    assert [r.name for r in rows] == ["loan_a.csv", "loan_b.csv", "loan_c.csv"]
    assert [r.path for r in rows] == ["drive://f1", "drive://f2", "drive://f4"]
    assert rows[0].mime == "text/csv"
    # RFC3339 modifiedTime surfaced as epoch seconds
    assert rows[1].modified > rows[0].modified


def test_drive_api_replay_download_and_paging(spark, tmp_path):
    """api=drive with content: chunked media download per file inside
    the partition reader (MediaIoBaseDownload loop,
    google_drive_download.py:125-147); page_size=1 re-pages the
    recorded listing into one partition per file."""
    _register(spark)
    rec = tmp_path / "drive_rec2"
    _write_drive_fixture(rec)
    df = (
        spark.read.format("file_listing")
        .option("api", "drive")
        .option("replay_dir", str(rec))
        .option("prefix", "loan_")
        .option("page_size", "1")
        .option("with_content", "true")
        .load()
    )
    assert df.rdd.getNumPartitions() == 3
    got = {r.name: bytes(r.content) for r in df.collect()}
    assert got["loan_a.csv"] == b"id,amt\n1,100\n"
    assert got["loan_c.csv"] == b"id,amt\n4,400\n" * 100


def test_drive_api_requires_replay_dir(spark):
    _register(spark)
    import pytest
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception, match="replay_dir|PYTHON_DATA_SOURCE"):
        (
            spark.read.format("file_listing")
            .option("api", "drive")
            .load()
            .collect()
        )


def test_rfc3339_epoch_variants():
    """ADVICE r5: valid RFC3339 modifiedTime values without fractional
    seconds, or with a numeric offset, must parse — a hardcoded
    '%.fZ' strptime raised ValueError inside the executor read path
    and failed the whole partition."""
    from airflow_loan_etl_pipeline_spark.sources.drive_source import (
        _rfc3339_epoch,
    )

    base = _rfc3339_epoch("2024-03-01T10:00:00.000Z")
    assert _rfc3339_epoch("2024-03-01T10:00:00Z") == base
    assert _rfc3339_epoch("2024-03-01T11:00:00+01:00") == base
    assert _rfc3339_epoch("2024-03-01T10:00:00.500Z") == base + 0.5


def test_drive_live_config_reaches_http_transport_offline():
    """The live configuration (folder_id + credentials) must pass
    option validation and route to the HTTP transport; offline (no
    google-api-python-client installed) that transport raises its
    documented RuntimeError pointing at the optional dependency —
    proving the seam is wired without needing network."""
    import pytest

    from airflow_loan_etl_pipeline_spark.sources.drive_source import (
        _DriveListingReader,
    )

    reader = _DriveListingReader(
        {"folder_id": "folder123", "credentials": "/tmp/nonexistent.json"}
    )
    try:
        import googleapiclient  # noqa: F401

        pytest.skip("google-api-python-client installed; live path covered"
                    " by test_drive_api_live_listing")
    except ImportError:
        pass
    with pytest.raises(RuntimeError, match="google-api-python-client"):
        list(reader.partitions())


def test_drive_replay_wins_over_live_config(spark, tmp_path):
    """When both replay_dir and a live configuration are set, replay
    must win — deterministic fixtures never silently fall through to
    the network."""
    _register(spark)
    rec = tmp_path / "drive_rec3"
    _write_drive_fixture(rec)
    rows = (
        spark.read.format("file_listing")
        .option("api", "drive")
        .option("replay_dir", str(rec))
        .option("folder_id", "would-hit-network")
        .option("credentials", "/tmp/nonexistent.json")
        .option("prefix", "loan_")
        .option("mime", "text/csv")
        .load()
        .collect()
    )
    assert len(rows) == 3


def test_drive_api_live_listing(spark):
    """LIVE Drive leg (green-or-skip, the MinIO pattern): runs only
    when the environment provides a real folder + service-account
    credentials + the google client libraries + network. Skips with
    the exact missing piece otherwise."""
    import pytest

    folder = os.environ.get("SPARK_GRAFT_DRIVE_FOLDER_ID")
    creds = os.environ.get("SPARK_GRAFT_DRIVE_CREDENTIALS") or os.environ.get(
        "GOOGLE_APPLICATION_CREDENTIALS"
    )
    if not folder:
        pytest.skip("no SPARK_GRAFT_DRIVE_FOLDER_ID in environment")
    if not creds or not os.path.exists(creds):
        pytest.skip("no Drive service-account credentials in environment")
    try:
        import googleapiclient  # noqa: F401
    except ImportError:
        pytest.skip("google-api-python-client not installed")
    _register(spark)
    df = (
        spark.read.format("file_listing")
        .option("api", "drive")
        .option("folder_id", folder)
        .option("credentials", creds)
        .load()
    )
    rows = df.collect()
    assert df.columns == ["path", "name", "size", "modified", "mime"]
    for r in rows:
        assert r.path.startswith("drive://")


def test_drive_query_escapes_all_interpolated_operands():
    """ADVICE r6: folder_id and mime interpolate into the Drive ``q``
    string with the same backslash/quote escaping as prefix — a single
    quote in any operand must neither break the query nor inject
    extra search terms."""
    from airflow_loan_etl_pipeline_spark.sources.drive_source import (
        _HttpDriveTransport,
    )

    t = _HttpDriveTransport.__new__(_HttpDriveTransport)
    t.folder_id = "id'with\\quote"
    t.prefix = "pre'fix"
    t.mime = "text/cs'v"
    q = t._query()
    assert q == (
        "'id\\'with\\\\quote' in parents and trashed = false"
        " and name contains 'pre\\'fix'"
        " and mimeType = 'text/cs\\'v'"
    )


# ---------------------------------------------------------------------------
# Live-transport pagination contract (VERDICT r8 item 7): fake Drive v3
# service injected into _HttpDriveTransport._svc — exercises the real
# files().list() loop (query, token chaining, termination, error
# propagation) without creds or googleapiclient.
# ---------------------------------------------------------------------------


class _FakeListCall:
    def __init__(self, svc, kwargs):
        self._svc = svc
        self._kwargs = kwargs

    def execute(self):
        self._svc.calls.append(self._kwargs)
        action = self._svc.script.pop(0)
        if isinstance(action, Exception):
            raise action
        return action


class _FakeFiles:
    def __init__(self, svc):
        self._svc = svc

    def list(self, **kwargs):
        return _FakeListCall(self._svc, kwargs)


class _FakeDriveService:
    """Scripted Drive v3 stand-in: each files().list().execute() pops
    the next scripted response (a page dict) or raises it (an
    exception)."""

    def __init__(self, script):
        self.script = list(script)
        self.calls: list[dict] = []

    def files(self):
        return _FakeFiles(self)


def _live_transport(script, page_size=2, prefix=""):
    from airflow_loan_etl_pipeline_spark.sources.drive_source import (
        _HttpDriveTransport,
    )

    t = _HttpDriveTransport(
        folder_id="folder",
        credentials_path="/nonexistent.json",
        prefix=prefix,
        page_size=page_size,
    )
    t._svc = _FakeDriveService(script)
    return t


def _f(name):
    return {
        "id": f"id-{name}", "name": name, "size": "1",
        "modifiedTime": "2026-01-01T00:00:00.000Z", "mimeType": "text/csv",
    }


def test_live_pagination_empty_folder():
    """Empty folder: one list call, one empty page, loop terminates."""
    t = _live_transport([{"files": []}])
    pages = list(t.list_pages())
    assert pages == [[]]
    assert len(t._svc.calls) == 1
    assert t._svc.calls[0]["pageToken"] is None


def test_live_pagination_exactly_page_size():
    """Folder holding exactly page_size files where the API still
    returns a nextPageToken (Drive does not know the next page is
    empty until asked): the loop must fetch the empty trailing page
    with the token and then stop — every file listed exactly once."""
    t = _live_transport(
        [
            {"files": [_f("a.csv"), _f("b.csv")], "nextPageToken": "t1"},
            {"files": []},
        ],
        page_size=2,
    )
    pages = list(t.list_pages())
    assert [f["name"] for p in pages for f in p] == ["a.csv", "b.csv"]
    assert [c["pageToken"] for c in t._svc.calls] == [None, "t1"]
    assert t._svc.script == []


def test_live_pagination_empty_string_token_terminates():
    """A falsy ('' ) nextPageToken is terminal, like the reference's
    `if not page_token: break` — re-requesting pageToken='' would spin
    forever against a server that echoes the page back."""
    t = _live_transport(
        [{"files": [_f("a.csv")], "nextPageToken": ""}]
    )
    pages = list(t.list_pages())
    assert len(pages) == 1
    assert len(t._svc.calls) == 1


def test_live_pagination_token_expiry_propagates():
    """Token expiry mid-pagination (HTTP 400/401 from the API on the
    second page) PROPAGATES — the reference loop has no retry, and a
    silent partial listing would be exactly-once poison downstream."""
    import pytest

    boom = RuntimeError("invalid page token (expired)")
    t = _live_transport(
        [{"files": [_f("a.csv")], "nextPageToken": "t1"}, boom]
    )
    gen = t.list_pages()
    first = next(gen)
    assert [f["name"] for f in first] == ["a.csv"]
    with pytest.raises(RuntimeError, match="expired"):
        next(gen)


def test_live_pagination_prefix_is_exact_client_side():
    """'name contains' is substring server-side; the transport keeps
    the exact-prefix contract client-side (reference filters in the
    DAG) — a substring-but-not-prefix match is dropped."""
    t = _live_transport(
        [{"files": [_f("loan_1.csv"), _f("old_loan_2.csv")]}],
        prefix="loan_",
    )
    pages = list(t.list_pages())
    assert [f["name"] for p in pages for f in p] == ["loan_1.csv"]
    q = t._svc.calls[0]["q"]
    assert "name contains 'loan_'" in q and "'folder' in parents" in q
