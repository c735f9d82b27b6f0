"""The Drive connector (S4/S5): driver-side listing with the
reference's prefix/MIME filters over paginated files().list pages, and
chunked media download, through the replay and live transports."""

from __future__ import annotations

import os

import pytest

from airflow_loan_etl_pipeline_spark.sources.drive_source import (
    drive_transport,
    list_drive_files,
)


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


def test_drive_api_replay_listing(tmp_path):
    """files().list pagination with the reference's prefix/MIME filters
    (google_drive_download.py:84-97), replayed from recorded fixtures —
    no network, no Spark session."""
    rec = tmp_path / "drive_rec"
    _write_drive_fixture(rec)
    rows = list_drive_files(
        drive_transport(replay_dir=str(rec)), prefix="loan_", mime="text/csv"
    )
    assert [r["name"] for r in rows] == ["loan_a.csv", "loan_b.csv", "loan_c.csv"]
    assert [r["id"] for r in rows] == ["f1", "f2", "f4"]
    assert [r["size"] for r in rows] == [10, 11, 12]
    assert rows[0]["mime"] == "text/csv"
    # RFC3339 modifiedTime surfaced as epoch seconds
    assert rows[1]["modified"] > rows[0]["modified"]


def test_drive_api_replay_download_and_paging(tmp_path):
    """Chunked media download per listed file (MediaIoBaseDownload
    loop, google_drive_download.py:125-147), over a listing chained
    across two recorded pages."""
    rec = tmp_path / "drive_rec2"
    _write_drive_fixture(rec)
    transport = drive_transport(replay_dir=str(rec))
    got = {
        f["name"]: b"".join(transport.download(f["id"]))
        for f in list_drive_files(transport, prefix="loan_")
    }
    assert sorted(got) == ["loan_a.csv", "loan_b.csv", "loan_c.csv"]
    assert got["loan_a.csv"] == b"id,amt\n1,100\n"
    assert got["loan_c.csv"] == b"id,amt\n4,400\n" * 100


def test_drive_api_requires_replay_dir(monkeypatch):
    monkeypatch.delenv("GOOGLE_APPLICATION_CREDENTIALS", raising=False)
    with pytest.raises(ValueError, match="replay_dir.*folder_id"):
        drive_transport()
    with pytest.raises(ValueError, match="replay_dir.*folder_id"):
        drive_transport(folder_id="folder123")


def test_rfc3339_epoch_variants():
    """ADVICE r5: valid RFC3339 modifiedTime values without fractional
    seconds, or with a numeric offset, must parse — a hardcoded
    '%.fZ' strptime raised ValueError for the no-fraction form and
    failed the whole listing."""
    from airflow_loan_etl_pipeline_spark.sources.drive_source import (
        _rfc3339_epoch,
    )

    base = _rfc3339_epoch("2024-03-01T10:00:00.000Z")
    assert _rfc3339_epoch("2024-03-01T10:00:00Z") == base
    assert _rfc3339_epoch("2024-03-01T11:00:00+01:00") == base
    assert _rfc3339_epoch("2024-03-01T10:00:00.500Z") == base + 0.5


def test_drive_live_config_reaches_http_transport_offline():
    """The live configuration (folder_id + credentials) must route to
    the HTTP transport; offline (no google-api-python-client
    installed) that transport raises its documented RuntimeError
    pointing at the optional dependency — proving the seam is wired
    without needing network."""
    transport = drive_transport(
        folder_id="folder123", credentials="/tmp/nonexistent.json"
    )
    try:
        import googleapiclient  # noqa: F401

        pytest.skip("google-api-python-client installed; live path covered"
                    " by test_drive_api_live_listing")
    except ImportError:
        pass
    with pytest.raises(RuntimeError, match="google-api-python-client"):
        list_drive_files(transport)


def test_drive_replay_wins_over_live_config(tmp_path):
    """When both replay_dir and a live configuration are set, replay
    must win — deterministic fixtures never silently fall through to
    the network."""
    rec = tmp_path / "drive_rec3"
    _write_drive_fixture(rec)
    transport = drive_transport(
        replay_dir=str(rec),
        folder_id="would-hit-network",
        credentials="/tmp/nonexistent.json",
    )
    assert len(list_drive_files(transport, prefix="loan_", mime="text/csv")) == 3


def test_drive_api_live_listing():
    """LIVE Drive leg (green-or-skip, the MinIO pattern): runs only
    when the environment provides a real folder + service-account
    credentials + the google client libraries + network. Skips with
    the exact missing piece otherwise."""
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
    rows = list_drive_files(drive_transport(folder_id=folder, credentials=creds))
    for r in rows:
        assert sorted(r) == ["id", "mime", "modified", "name", "size"]


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


def test_live_listing_pushes_prefix_and_mime_into_q():
    """list_drive_files hands its filters to the live transport, which
    pushes both into the Drive ``q`` string (google_drive_download.py:
    84-97), and still keeps only exact-prefix, exact-MIME files."""
    other = {**_f("loan_2.json"), "mimeType": "application/json"}
    t = _live_transport([{"files": [_f("loan_1.csv"), other, _f("my_loan_3.csv")]}])
    rows = list_drive_files(t, prefix="loan_", mime="text/csv")
    assert [r["id"] for r in rows] == ["id-loan_1.csv"]
    q = t._svc.calls[0]["q"]
    assert "name contains 'loan_'" in q and "mimeType = 'text/csv'" in q
