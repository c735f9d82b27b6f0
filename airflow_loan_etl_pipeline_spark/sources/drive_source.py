"""Custom connector via Spark 4's Python DataSource API — the engine's
answer to the reference's Google Drive connector (S4/S5,
/root/reference/airflow/include/google_drive_download.py:62-147):
list a folder with name-prefix + MIME filtering and paginate; download
file content in chunks.

Where the reference drives a remote API from the Airflow worker
(driver-side, serial), this is a REAL Spark data source: the listing
happens once at planning time, rows are served by EXECUTORS in
page-sized partitions (the `page_size=100` pagination of
google_drive_download.py:66 becomes the partition boundary — each page
is a parallel task), and content reads happen inside the partition
reader in bounded chunks (the chunked download of :125-147). The
local-folder reader lists through streaming/file_source.py
(``settled_files``), the one rule for which landed files exist. It is
a batch reader: which files are new is the processed-ids ledger's
decision (file_source.screen), not this source's.

Usage::

    spark.dataSource.register(FileListingDataSource)
    df = (spark.read.format("file_listing")
          .option("path", "/landing/dir")
          .option("prefix", "loan_")
          .option("mime", "text/csv")        # extension-mapped
          .option("page_size", "100")
          .option("with_content", "true")    # S5: chunked payload read
          .load())

Drive-API mode (``option("api", "drive")``): the reader speaks the
Drive v3 *protocol shapes* — ``files().list`` JSON pages with
``nextPageToken`` chaining and per-file media downloads — against a
pluggable two-method transport with two implementations:

- RECORDED-FIXTURE REPLAY (``option("replay_dir", ...)``): a directory
  holding the JSON pages a real ``files().list`` returned
  (``pages/<token>.json``, first page ``pages/_start.json``) plus the
  media bodies keyed by file id (``media/<id>``). Reproduces the
  reference client's pagination, name-prefix/MIME ``q`` filtering,
  and chunked ``MediaIoBaseDownload`` loop
  (google_drive_download.py:62-147) byte-for-byte with no network —
  the mode every offline test uses.
- LIVE HTTP (``option("folder_id", ...)`` + service-account
  credentials via ``option("credentials", ...)`` or
  ``$GOOGLE_APPLICATION_CREDENTIALS``): the reference's authenticated
  ``googleapiclient`` path (google_drive_download.py:37-147) —
  constructed only when that configuration is present, imported
  lazily, and exercised by an env-gated test that skips without
  credentials/network (the MinIO green-or-skip pattern).
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from airflow_loan_etl_pipeline_spark.streaming.file_source import (
    _mime_of,
    settled_files,
)

_CHUNK = 1 << 20  # 1 MiB chunked read, google_drive_download.py:138-143


class _Page(InputPartition):
    def __init__(self, paths: list[str]):
        self.paths = paths


class _DrivePage(InputPartition):
    def __init__(self, files: list[dict]):
        self.files = files


class _ReplayDriveTransport:
    """Drive v3 replay transport: serves recorded ``files().list``
    pages and media bodies from ``replay_dir``.

    Layout::

        replay_dir/pages/_start.json       # first list page
        replay_dir/pages/<token>.json      # page for nextPageToken
        replay_dir/media/<file_id>         # raw media body

    Each page JSON is the actual Drive response shape:
    ``{"files": [{"id", "name", "size", "modifiedTime", "mimeType"}],
    "nextPageToken": "..."}`` (google_drive_download.py:84-111). The
    HTTP transport for a live deployment implements the same two
    methods with googleapiclient and is a drop-in swap."""

    def __init__(self, replay_dir: str):
        self.replay_dir = replay_dir

    def list_pages(self):
        token = "_start"
        while token is not None:
            p = os.path.join(self.replay_dir, "pages", f"{token}.json")
            with open(p, "r", encoding="utf-8") as f:
                page = json.load(f)
            yield page.get("files", [])
            token = page.get("nextPageToken")

    def download(self, file_id: str):
        # MediaIoBaseDownload's bounded-chunk loop
        # (google_drive_download.py:125-147)
        p = os.path.join(self.replay_dir, "media", file_id)
        with open(p, "rb") as f:
            while True:
                c = f.read(_CHUNK)
                if not c:
                    break
                yield c


class _HttpDriveTransport:
    """LIVE Drive v3 transport: the reference's authenticated
    ``files().list`` pagination + ``MediaIoBaseDownload`` chunk loop
    (google_drive_download.py:37-147) behind the same two-method
    interface as :class:`_ReplayDriveTransport` — a drop-in swap, so
    the Spark integration (page partitions, pushed-down prefix/MIME
    filters, in-partition chunked reads) is identical in replay and
    live modes.

    Constructed only when a live configuration is present
    (``folder_id`` + service-account credentials); imports
    ``googleapiclient`` lazily because the live client libraries are
    an OPTIONAL dependency — absent in offline environments, where
    the replay transport carries all tests.
    """

    # Drive list fields the readers consume — mirrors the reference's
    # fields= projection (google_drive_download.py:100-104)
    _FIELDS = "nextPageToken, files(id, name, size, modifiedTime, mimeType)"

    def __init__(
        self,
        folder_id: str,
        credentials_path: str,
        prefix: str = "",
        mime: str | None = None,
        page_size: int = 100,
    ):
        self.folder_id = folder_id
        self.credentials_path = credentials_path
        self.prefix = prefix
        self.mime = mime
        self.page_size = page_size
        self._svc = None  # built once per transport (per task), reused

    def _service(self):
        # cached: a with_content partition calls download() once per
        # file — rebuilding the discovery client + credential load +
        # token fetch per file would add an auth round-trip for every
        # row in the read loop
        if self._svc is not None:
            return self._svc
        try:
            from google.oauth2 import service_account
            from googleapiclient.discovery import build
        except ImportError as e:  # optional live-only dependency
            raise RuntimeError(
                "live Drive transport needs google-api-python-client + "
                "google-auth (pip install google-api-python-client "
                "google-auth); offline environments use replay_dir"
            ) from e
        creds = service_account.Credentials.from_service_account_file(
            self.credentials_path,
            scopes=["https://www.googleapis.com/auth/drive.readonly"],
        )
        self._svc = build(
            "drive", "v3", credentials=creds, cache_discovery=False
        )
        return self._svc

    @staticmethod
    def _q_escape(value: str) -> str:
        """Backslash-escape a value interpolated into a Drive ``q``
        string literal — EVERY interpolated operand gets this (ADVICE
        r6: folder_id/mime went in raw, so a single quote in either
        broke the query or injected extra search terms)."""
        return value.replace("\\", "\\\\").replace("'", "\\'")

    def _query(self) -> str:
        # push the filters INTO the Drive query string, exactly the
        # reference's predicate pushdown (google_drive_download.py:84-97)
        terms = [
            f"'{self._q_escape(self.folder_id)}' in parents",
            "trashed = false",
        ]
        if self.prefix:
            terms.append(f"name contains '{self._q_escape(self.prefix)}'")
        if self.mime:
            terms.append(f"mimeType = '{self._q_escape(self.mime)}'")
        return " and ".join(terms)

    def list_pages(self):
        svc = self._service()
        token = None
        while True:
            page = (
                svc.files()
                .list(
                    q=self._query(),
                    pageSize=self.page_size,
                    fields=self._FIELDS,
                    pageToken=token,
                    orderBy="name",
                )
                .execute()
            )
            # 'name contains' is a substring match server-side; keep
            # the exact-prefix contract client-side like the reference
            yield [
                f
                for f in page.get("files", [])
                if f["name"].startswith(self.prefix)
            ]
            token = page.get("nextPageToken")
            # falsy check, not `is None`: the reference loop treats an
            # empty-string token as terminal (google_drive_download.py:
            # 118-120) — re-requesting pageToken="" would spin forever
            # on a server that echoed the page back
            if not token:
                return

    def download(self, file_id: str):
        import io

        from googleapiclient.http import MediaIoBaseDownload

        svc = self._service()
        req = svc.files().get_media(fileId=file_id)
        buf = io.BytesIO()
        dl = MediaIoBaseDownload(buf, req, chunksize=_CHUNK)
        done = False
        while not done:
            _status, done = dl.next_chunk()
            chunk = buf.getvalue()
            if chunk:
                yield chunk
                buf.seek(0)
                buf.truncate(0)


def _rfc3339_epoch(ts: str) -> float:
    """Parse any RFC3339 timestamp the Drive API may emit. The API
    documents millisecond precision ('...T10:00:00.000Z'), but valid
    RFC3339 also allows no fractional seconds and numeric offsets —
    ``fromisoformat`` (py>=3.11) handles all of these; a hardcoded
    '%.fZ' strptime raised ValueError inside the executor read path
    for the no-fraction form, failing the whole partition."""
    from datetime import datetime, timezone

    dt = datetime.fromisoformat(ts.replace("Z", "+00:00"))
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt.timestamp()


class FileListingDataSource(DataSource):
    """Listing + optional chunked content read over a directory."""

    @classmethod
    def name(cls) -> str:
        return "file_listing"

    def schema(self) -> str:
        base = (
            "path string, name string, size bigint, modified double, "
            "mime string"
        )
        if self.options.get("with_content", "false").lower() == "true":
            base += ", content binary"
        return base

    def reader(self, schema) -> DataSourceReader:
        if self.options.get("api", "fs").lower() == "drive":
            return _DriveListingReader(self.options)
        return _ListingReader(self.options)


class _ListingReader(DataSourceReader):
    def __init__(self, options):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("file_listing source requires option 'path'")
        if not os.path.isdir(self.root):
            raise FileNotFoundError(
                f"file_listing path is not a directory: {self.root}"
            )
        self.prefix = options.get("prefix", "")
        self.mime = options.get("mime")
        self.page_size = int(options.get("page_size", "100"))
        self.with_content = (
            options.get("with_content", "false").lower() == "true"
        )

    def partitions(self) -> list[_Page]:
        # Planning-time listing with the PUSHED-DOWN predicates (the
        # reference pushes prefix/MIME into the Drive query string,
        # google_drive_download.py:84-97); each page of results becomes
        # one input partition -> one parallel task. No settle gate.
        paths = [
            path
            for _name, path, _mtime in settled_files(
                self.root, self.prefix, float("-inf"), mime=self.mime
            )
        ]
        pages = [
            paths[i : i + self.page_size]
            for i in range(0, len(paths), self.page_size)
        ] or [[]]
        return [_Page(p) for p in pages]

    def read(self, partition: _Page):
        for path in partition.paths:
            st = os.stat(path)
            row = [path, os.path.basename(path), st.st_size, st.st_mtime, _mime_of(path)]
            if self.with_content:
                chunks = []
                with open(path, "rb") as f:
                    while chunk := f.read(_CHUNK):
                        chunks.append(chunk)
                row.append(b"".join(chunks))
            yield tuple(row)


class _DriveListingReader(DataSourceReader):
    """Drive-API mode (S4/S5): ``files().list`` pagination → one
    partition per page, prefix/MIME filters applied the way the
    reference pushes them into the Drive ``q`` string
    (google_drive_download.py:84-97), chunked media download inside
    the partition reader. Transport: ``replay_dir`` (recorded
    fixtures, offline) or ``folder_id`` + credentials (live
    googleapiclient HTTP)."""

    def __init__(self, options):
        self.replay_dir = options.get("replay_dir")
        self.folder_id = options.get("folder_id")
        self.credentials = options.get("credentials") or os.environ.get(
            "GOOGLE_APPLICATION_CREDENTIALS"
        )
        if not self.replay_dir and not (self.folder_id and self.credentials):
            raise ValueError(
                "api=drive needs either option 'replay_dir' (recorded "
                "files().list pages + media bodies — the offline mode "
                "every test uses) or a LIVE configuration: option "
                "'folder_id' plus service-account credentials (option "
                "'credentials' or $GOOGLE_APPLICATION_CREDENTIALS)"
            )
        self.prefix = options.get("prefix", "")
        self.mime = options.get("mime")
        self.page_size = int(options.get("page_size", "100"))
        self.with_content = (
            options.get("with_content", "false").lower() == "true"
        )

    def _transport(self):
        # replay wins when both are configured: deterministic fixtures
        # must never silently fall through to the network
        if self.replay_dir:
            return _ReplayDriveTransport(self.replay_dir)
        return _HttpDriveTransport(
            self.folder_id,
            self.credentials,
            prefix=self.prefix,
            mime=self.mime,
            page_size=self.page_size,
        )

    def partitions(self) -> list[_DrivePage]:
        transport = self._transport()
        pages = []
        for files in transport.list_pages():
            kept = [
                f
                for f in files
                if f["name"].startswith(self.prefix)
                and (self.mime is None or f.get("mimeType") == self.mime)
            ]
            # honor the reader's page_size even if the recording used a
            # different one (the reference re-pages at 100,
            # google_drive_download.py:66)
            for i in range(0, len(kept), self.page_size):
                pages.append(_DrivePage(kept[i : i + self.page_size]))
        return pages or [_DrivePage([])]

    def read(self, partition: _DrivePage):
        transport = self._transport()
        for f in partition.files:
            row = [
                f"drive://{f['id']}",
                f["name"],
                int(f.get("size", 0)),
                _rfc3339_epoch(f["modifiedTime"]),
                f.get("mimeType", "application/octet-stream"),
            ]
            if self.with_content:
                row.append(b"".join(transport.download(f["id"])))
            yield tuple(row)
