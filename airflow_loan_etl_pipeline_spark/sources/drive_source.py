"""The engine's Google Drive connector (S4/S5): the reference's
google_drive_download.py:62-147 as two driver-side functions that run
where the caller runs, as the reference runs on the Airflow worker (a
listing is a few KB of metadata: no Spark job). :func:`drive_transport`
picks a transport; :func:`list_drive_files` lists a folder with the
name-prefix and MIME filters over ``nextPageToken``-chained
``files().list`` pages; a file's content is ``transport.download(id)``,
a stream of 1 MiB chunks (:125-147).

Both transports speak the Drive v3 protocol shapes:

- REPLAY (``replay_dir``): the JSON pages a real ``files().list``
  returned and the media bodies, served with no network — the mode
  every offline test uses.
- LIVE HTTP (``folder_id`` + service-account credentials): the
  reference's authenticated ``googleapiclient`` path (:37-147), with
  the filters pushed into the Drive ``q`` string. The client libraries
  are imported lazily; an env-gated test skips without credentials or
  network.

Usage::

    transport = drive_transport(folder_id="...", credentials="sa.json")
    for f in list_drive_files(transport, prefix="loan_", mime="text/csv"):
        body = b"".join(transport.download(f["id"]))
"""

from __future__ import annotations

import json
import os

_CHUNK = 1 << 20  # 1 MiB chunked read, google_drive_download.py:138-143


class _ReplayDriveTransport:
    """Drive v3 replay transport: serves recorded ``files().list``
    pages and media bodies from ``replay_dir``.

    Layout::

        replay_dir/pages/_start.json       # first list page
        replay_dir/pages/<token>.json      # page for nextPageToken
        replay_dir/media/<file_id>         # raw media body

    Each page JSON is the actual Drive response shape:
    ``{"files": [{"id", "name", "size", "modifiedTime", "mimeType"}],
    "nextPageToken": "..."}`` (google_drive_download.py:84-111)."""

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
    :func:`list_drive_files` and the chunked downloads are identical
    in replay and live modes. Imports ``googleapiclient`` lazily: the
    live client libraries are an OPTIONAL dependency, absent offline.
    """

    # Drive list fields the listing consumes — mirrors the reference's
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
        self._svc = None  # built once per transport, reused

    def _service(self):
        # cached: one credential load + token fetch per transport, not
        # one per downloaded file
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
        string literal; every operand gets this, so a single quote can
        neither break the query nor inject search terms."""
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
    """Epoch seconds of any RFC3339 timestamp the Drive API may emit:
    millisecond precision ('...T10:00:00.000Z'), no fractional seconds,
    or a numeric offset (``fromisoformat``, py>=3.11)."""
    from datetime import datetime, timezone

    dt = datetime.fromisoformat(ts.replace("Z", "+00:00"))
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt.timestamp()


def drive_transport(
    replay_dir: str | None = None,
    folder_id: str | None = None,
    credentials: str | None = None,
):
    """The transport for a configuration: the replay of ``replay_dir``
    when it is set, else the live HTTP transport for ``folder_id`` with
    the service-account ``credentials`` (default
    ``$GOOGLE_APPLICATION_CREDENTIALS``)."""
    # replay wins when both are configured: deterministic fixtures
    # must never silently fall through to the network
    if replay_dir:
        return _ReplayDriveTransport(replay_dir)
    credentials = credentials or os.environ.get("GOOGLE_APPLICATION_CREDENTIALS")
    if folder_id and credentials:
        return _HttpDriveTransport(folder_id, credentials)
    raise ValueError(
        "a Drive transport needs either 'replay_dir' (recorded "
        "files().list pages + media bodies — the offline mode every "
        "test uses) or a LIVE configuration: 'folder_id' plus "
        "service-account credentials ('credentials' or "
        "$GOOGLE_APPLICATION_CREDENTIALS)"
    )


def list_drive_files(transport, prefix: str = "", mime: str | None = None) -> list[dict]:
    """``{id, name, size, modified, mime}`` of each file the transport
    lists whose name starts with ``prefix`` and whose MIME type is
    ``mime`` (``None``: any), in listing order; ``modified`` is epoch
    seconds (google_drive_download.py:62-120)."""
    # the live transport pushes both filters into its ``q`` string
    # (google_drive_download.py:84-97); a replay serves the recorded
    # pages as they are
    transport.prefix, transport.mime = prefix, mime
    return [
        {
            "id": f["id"],
            "name": f["name"],
            "size": int(f.get("size", 0)),
            "modified": _rfc3339_epoch(f["modifiedTime"]),
            "mime": f.get("mimeType", "application/octet-stream"),
        }
        for files in transport.list_pages()
        for f in files
        if f["name"].startswith(prefix) and (mime is None or f.get("mimeType") == mime)
    ]
