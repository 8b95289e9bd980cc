"""API-shaped custom PySpark DataSource (SURVEY.md §2.1 S1-S3, §7.3).

The reference drives the YouTube Data API v3 with three access patterns:
- S1 channel batch lookup: one ``channels().list`` for ≤50 comma-joined ids
  (fetch_youtube_data.py:53-57);
- S2 paginated playlist scan: ``playlistItems().list`` pages of 50, serial
  ``nextPageToken`` threading per playlist (:86-100);
- S3 chunked video lookup: ids sliced into chunks of 50, one
  ``videos().list`` per chunk (:113-119).

Spark-first restatement: a PySpark DataSource whose *partitioning* encodes
the reference's batching. Playlists fan out across executors (the
parallelism the reference leaves on the table, SURVEY.md §3.3) in
``min(#playlists, slots)`` partitions, each paging its playlists serially;
without a ``slots`` option that is one partition per playlist. Packing to
the slot count matters because every partition is one Python task, and a
Python task pays ~0.3 s of worker CPU before it reads a row (measured on 4
vCPUs with PySpark 4.1: a job of one 1-row ``mapInArrow`` task costs
~0.35 s of CPU, one of four such tasks ~1.0 s; the worker's per-task
``importlib.invalidate_caches()`` re-reads ``pyspark.zip`` once per cached
zipimporter). Playlists beyond the slot count add that cost, not
parallelism. Video lookups get one partition per 50-id chunk.
Page/chunk loops live inside ``read(partition)``, so no pagination state
ever crosses partitions.

Transport is injectable by name so the source is testable hermetically:
``transport=fake`` is a deterministic in-process YouTube API emulator (the
container has no network/googleapiclient); a real HTTPS transport would
register under another name with identical response shapes.

Usage::

    spark.dataSource.register(YouTubeDataSource)
    spark.read.format("youtube_api").option("table", "videos")
         .option("transport", "fake").option("video_ids", "v1,v2").load()

The ``channels`` table is small (one row per channel), so ``run_etl``
runs it on the driver through :func:`lookup_channels`, the same reader
code without a Spark read.

Options: ``table`` (channels | playlist_items | videos), ``transport``,
``seed``; ``channel_ids``; ``playlist_ids`` and ``slots`` (the most
playlist partitions to plan, normally the session's default parallelism);
``video_ids`` or ``video_ids_path``.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql import types as T

API_PAGE_SIZE = 50  # YouTube API max (fetch_youtube_data.py:90, :113-114)

# The one schema definition per raw ETL table. The reference infers every
# schema dynamically (pd.DataFrame at fetch_youtube_data.py:71,:136; to_sql
# DDL inference at :194,:198); the engine pins them, and nullability encodes
# exactly which reference fields were read with ``.get()`` (nullable) versus
# hard ``[...]`` access (non-null). FIXTURES.md gives the rationale per
# column.
#
# channels — API-shaped channel rows, post-projection
# (fetch_youtube_data.py:62-68), plus the channel_id key. Counter columns
# stay strings on purpose: the YouTube API returns statistics counts as JSON
# strings and the reference never casts them (SURVEY.md §2.6 item 6).
# published_date is never parsed (:63); country is read with .get() (:64).
# channel_stats is written from these rows, overwrite mode (:198).
CHANNELS_SCHEMA = T.StructType(
    [
        T.StructField("channel_id", T.StringType(), False),
        T.StructField("channel_title", T.StringType(), False),
        T.StructField("published_date", T.StringType(), False),
        T.StructField("country", T.StringType(), True),
        T.StructField("subscribers", T.StringType(), False),
        T.StructField("views", T.StringType(), False),
        T.StructField("totalVideos", T.StringType(), False),
        T.StructField("playlistId", T.StringType(), False),
    ]
)

# playlist_items — (playlist, video) membership emitted by the paginated scan
# (fetch_youtube_data.py:86-100). page_index is synthetic provenance.
PLAYLIST_ITEMS_SCHEMA = T.StructType(
    [
        T.StructField("playlistId", T.StringType(), False),
        T.StructField("videoId", T.StringType(), False),
        T.StructField("page_index", T.IntegerType(), False),
    ]
)

# videos — the exact 11-column pre-transform shape built at
# fetch_youtube_data.py:122-133 (everything below videoId uses .get()).
VIDEOS_SCHEMA = T.StructType(
    [
        T.StructField("videoId", T.StringType(), False),
        T.StructField("channel", T.StringType(), True),
        T.StructField("video_title", T.StringType(), True),
        T.StructField("description", T.StringType(), True),
        T.StructField("tags", T.ArrayType(T.StringType()), True),
        T.StructField("publishedAt", T.StringType(), True),
        T.StructField("likes", T.StringType(), True),
        T.StructField("views", T.StringType(), True),
        T.StructField("comments", T.StringType(), True),
        T.StructField("favourites", T.StringType(), True),
        T.StructField("duration", T.StringType(), True),
    ]
)

_SCHEMAS = {
    "channels": CHANNELS_SCHEMA,
    "playlist_items": PLAYLIST_ITEMS_SCHEMA,
    "videos": VIDEOS_SCHEMA,
}


def _h(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


class FakeTransport:
    """Deterministic in-process YouTube API emulator.

    Response shapes mirror the real API (items list, statistics counts as
    JSON *strings*, nextPageToken) so the reader's pagination/chunking logic
    is exercised for real. Content is a pure function of ids + seed.
    """

    def __init__(self, seed: int = 42, videos_per_playlist: int = 120):
        self.seed = seed
        self.videos_per_playlist = videos_per_playlist
        self.calls: list[tuple] = []  # observability for tests

    # --- S1 shape ---
    def channels_list(self, ids: Sequence[str]) -> dict:
        if len(ids) > API_PAGE_SIZE:
            raise ValueError("channels().list accepts at most 50 ids")
        self.calls.append(("channels", tuple(ids)))
        items = []
        for cid in ids:
            h = _h(f"{self.seed}:{cid}")
            items.append(
                {
                    "id": cid,
                    "snippet": {
                        "title": f"Channel {cid}",
                        "publishedAt": f"20{10 + h % 15:02d}-01-01T00:00:00Z",
                        **({"country": "US"} if h % 5 else {}),  # ~20% missing
                    },
                    "statistics": {
                        "subscriberCount": str(h % 1_000_000),
                        "viewCount": str(h % 100_000_000),
                        "videoCount": str(self.videos_per_playlist),
                    },
                    "contentDetails": {"relatedPlaylists": {"uploads": f"UU{cid}"}},
                }
            )
        return {"items": items}

    # --- S2 shape ---
    def playlist_items_list(self, playlist_id: str, page_token: str | None) -> dict:
        self.calls.append(("playlist_items", playlist_id, page_token))
        start = int(page_token) if page_token else 0
        end = min(start + API_PAGE_SIZE, self.videos_per_playlist)
        items = [
            {"contentDetails": {"videoId": f"v_{playlist_id}_{i}"}}
            for i in range(start, end)
        ]
        resp = {"items": items}
        if end < self.videos_per_playlist:
            resp["nextPageToken"] = str(end)
        return resp

    # --- S3 shape ---
    def videos_list(self, ids: Sequence[str]) -> dict:
        if len(ids) > API_PAGE_SIZE:
            raise ValueError("videos().list accepts at most 50 ids")
        self.calls.append(("videos", tuple(ids)))
        items = []
        for vid in ids:
            h = _h(f"{self.seed}:{vid}")
            snippet = {
                "channelTitle": f"Channel c{h % 7}",
                "title": f"Video {vid}",
                "publishedAt": f"2024-{1 + h % 12:02d}-{1 + h % 28:02d}T{h % 24:02d}:00:00Z",
            }
            if h % 4:
                snippet["description"] = f"Description of {vid}"
            if h % 3:
                snippet["tags"] = [f"tag{j}" for j in range(h % 6)]
            stats = {"viewCount": str(h % 100000), "favoriteCount": "0"}
            if h % 5:
                stats["likeCount"] = str(h % 5000)
            if h % 6:
                stats["commentCount"] = str(h % 800)
            items.append(
                {
                    "id": vid,
                    "snippet": snippet,
                    "statistics": stats,
                    "contentDetails": {"duration": f"PT{h % 3}H{h % 60}M{(h // 7) % 60}S"},
                }
            )
        return {"items": items}


class TransientAPIError(Exception):
    """Retryable failure (quota 403 / 429 / 5xx in the real API)."""


class PermanentAPIError(Exception):
    """Non-retryable API failure, SANITIZED: carries only the HTTP code,
    resource, and the API's error reason — never the request URL, whose
    query string contains ``key=<api_key>`` (urllib's HTTPError embeds the
    full URL in its message, which would leak the credential into logs and
    tracebacks)."""

    def __init__(self, code: int, resource: str, reason: str | None):
        self.code = code
        self.resource = resource
        self.reason = reason
        super().__init__(
            f"HTTP {code} from {resource}"
            + (f" (reason: {reason})" if reason else "")
        )


class FlakyTransport:
    """Test transport: every distinct call fails ``fail_first`` times with
    TransientAPIError before succeeding — exercises the retry path."""

    def __init__(self, inner: FakeTransport, fail_first: int = 2):
        self.inner = inner
        self.fail_first = fail_first
        self._seen: dict = {}

    def _gate(self, key) -> None:
        n = self._seen.get(key, 0)
        self._seen[key] = n + 1
        if n < self.fail_first:
            raise TransientAPIError(f"simulated transient failure #{n + 1} for {key}")

    def channels_list(self, ids):
        self._gate(("channels", tuple(ids)))
        return self.inner.channels_list(ids)

    def playlist_items_list(self, playlist_id, page_token):
        self._gate(("playlist", playlist_id, page_token))
        return self.inner.playlist_items_list(playlist_id, page_token)

    def videos_list(self, ids):
        self._gate(("videos", tuple(ids)))
        return self.inner.videos_list(ids)


class RetryingTransport:
    """Exponential backoff around any transport (quota/backoff handling,
    SURVEY.md §7.1 item 6). Retries only TransientAPIError — a real HTTPS
    transport maps 403-quota/429/5xx onto it. Reads are idempotent (pure
    GETs), so retry — and Spark speculative re-execution — is safe."""

    def __init__(self, inner, max_retries: int = 4, base_ms: int = 200):
        self.inner = inner
        self.max_retries = max_retries
        self.base_ms = base_ms
        self.retries = 0  # observability for tests

    def _call(self, fn, *args):
        import time

        for attempt in range(self.max_retries + 1):
            try:
                return fn(*args)
            except TransientAPIError:
                if attempt == self.max_retries:
                    raise
                self.retries += 1
                time.sleep(self.base_ms / 1000.0 * (2 ** attempt))

    def channels_list(self, ids):
        return self._call(self.inner.channels_list, ids)

    def playlist_items_list(self, playlist_id, page_token):
        return self._call(self.inner.playlist_items_list, playlist_id, page_token)

    def videos_list(self, ids):
        return self._call(self.inner.videos_list, ids)


class HttpTransport:
    """Real YouTube Data API v3 transport over stdlib urllib — the
    reference's live extract (fetch_youtube_data.py:36-57 channels,
    :86-100 playlistItems, :113-119 videos) without the googleapiclient
    dependency. Same three-call surface and response shapes as
    FakeTransport, so the reader code is transport-agnostic.

    Quota handling: HTTP 429/5xx — and 403 bodies whose error reason is
    quotaExceeded/rateLimitExceeded/userRateLimitExceeded — raise
    TransientAPIError, which RetryingTransport turns into exponential
    backoff; any other HTTP error (bad key, bad request) propagates
    immediately. ``urlopen`` is injectable so tests drive the full
    URL-building/paging/backoff logic hermetically (this sandbox has no
    network; default construction requires an api_key and is env-gated
    through make_transport)."""

    BASE_URL = "https://www.googleapis.com/youtube/v3"
    _QUOTA_REASONS = frozenset(
        {"quotaExceeded", "rateLimitExceeded", "userRateLimitExceeded"}
    )

    def __init__(self, api_key: str, urlopen=None, timeout_s: float = 30.0):
        if not api_key:
            raise ValueError("HttpTransport requires a non-empty api_key")
        self.api_key = api_key
        if urlopen is None:
            import urllib.request

            urlopen = urllib.request.urlopen
        self._urlopen = urlopen
        self.timeout_s = timeout_s

    def _is_transient(self, code: int, body: bytes) -> bool:
        if code == 429 or code >= 500:
            return True
        if code == 403:
            # 403 is both "quota exhausted" (retryable) and "key invalid /
            # API disabled" (not). Only the error body disambiguates.
            import json

            try:
                errors = json.loads(body.decode("utf-8"))["error"]["errors"]
                return any(e.get("reason") in self._QUOTA_REASONS for e in errors)
            except Exception:
                return False
        return False

    def _get(self, resource: str, params: dict) -> dict:
        import json
        import urllib.error
        import urllib.parse

        query = urllib.parse.urlencode({**params, "key": self.api_key})
        url = f"{self.BASE_URL}/{resource}?{query}"
        try:
            with self._urlopen(url, timeout=self.timeout_s) as resp:
                return json.loads(resp.read().decode("utf-8"))
        except urllib.error.HTTPError as e:
            body = e.read() if e.fp is not None else b""
            if self._is_transient(e.code, body):
                raise TransientAPIError(f"HTTP {e.code} from {resource}") from e
            # Permanent errors re-raise SANITIZED (`from None`: the chained
            # HTTPError's message embeds the full key=<api_key> URL).
            reason = None
            try:
                err = json.loads(body.decode("utf-8"))["error"]
                reason = err["errors"][0].get("reason") or err.get("message")
            except Exception:
                pass
            raise PermanentAPIError(e.code, resource, reason) from None
        except (urllib.error.URLError, TimeoutError, OSError) as e:
            # Connection refused/reset, DNS failure, socket timeout — the
            # classic transients. They previously bypassed the retry layer
            # entirely (only HTTPError was caught) and killed the task,
            # re-issuing every call in the partition on task retry (r6
            # review). Ordered AFTER the HTTPError clause (its subclass).
            # Sanitized (from None): the chained exception can embed the
            # URL, whose query string contains the API key.
            raise TransientAPIError(
                f"network error calling {resource}: {type(e).__name__}"
            ) from None

    # --- S1 shape (fetch_youtube_data.py:53-57) ---
    def channels_list(self, ids: Sequence[str]) -> dict:
        if len(ids) > API_PAGE_SIZE:
            raise ValueError("channels().list accepts at most 50 ids")
        return self._get(
            "channels",
            {
                "part": "snippet,contentDetails,statistics",
                "id": ",".join(ids),
                "maxResults": API_PAGE_SIZE,
            },
        )

    # --- S2 shape (:86-100) ---
    def playlist_items_list(self, playlist_id: str, page_token: str | None) -> dict:
        params = {
            "part": "contentDetails",
            "playlistId": playlist_id,
            "maxResults": API_PAGE_SIZE,
        }
        if page_token:
            params["pageToken"] = page_token
        return self._get("playlistItems", params)

    # --- S3 shape (:113-119) ---
    def videos_list(self, ids: Sequence[str]) -> dict:
        if len(ids) > API_PAGE_SIZE:
            raise ValueError("videos().list accepts at most 50 ids")
        return self._get(
            "videos",
            {
                "part": "snippet,contentDetails,statistics",
                "id": ",".join(ids),
                "maxResults": API_PAGE_SIZE,
            },
        )


def make_transport(options: dict):
    """Transport factory from string options (DataSource options are strings
    only). 'fake' is the hermetic in-process emulator (the default in this
    sandbox — no network); 'flaky' wraps it with simulated transient
    failures (testing the retry path); 'https' is the real YouTube Data
    API v3 over stdlib urllib, gated on an api_key option or the
    YOUTUBE_API_KEY env var. Every transport is wrapped in
    RetryingTransport for quota/5xx backoff."""
    kind = options.get("transport", "fake")
    if kind == "https":
        import os

        api_key = options.get("api_key") or os.environ.get("YOUTUBE_API_KEY", "")
        inner = HttpTransport(
            api_key, timeout_s=float(options.get("http_timeout_s", "30"))
        )
    elif kind in ("fake", "flaky"):
        fake = FakeTransport(
            seed=int(options.get("seed", "42")),
            videos_per_playlist=int(options.get("videos_per_playlist", "120")),
        )
        inner = (
            fake
            if kind == "fake"
            else FlakyTransport(fake, fail_first=int(options.get("fail_first", "2")))
        )
    else:
        raise ValueError(
            f"unknown transport {kind!r}: expected fake | flaky | https"
        )
    return RetryingTransport(
        inner,
        max_retries=int(options.get("max_retries", "4")),
        base_ms=int(options.get("retry_base_ms", "200")),
    )


def _resolve_fs(path: str):
    """(pyarrow FileSystem, fs-local path, pafs module) for ``path``.

    ``FileSystem.from_uri`` rejects scheme-less paths ("URI has empty
    scheme"), but scheme-less is exactly what a relative --warehouse on
    the CLI produces (and what the pre-r6 glob implementation accepted) —
    so bare paths resolve to the local filesystem via abspath, while
    hdfs://, s3://, file:// paths go through from_uri unchanged."""
    import os as _os
    import re as _re

    from pyarrow import fs as pafs

    if _re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://", path):
        fsys, rel = pafs.FileSystem.from_uri(path)
        return fsys, rel, pafs
    return pafs.LocalFileSystem(), _os.path.abspath(path), pafs


class _Partition(InputPartition):
    def __init__(self, kind: str, payload):
        self.kind = kind
        self.payload = payload


class YouTubeReader(DataSourceReader):
    def __init__(self, options: dict):
        self.options = options
        self.table = options.get("table", "videos")

    def partitions(self) -> Sequence[InputPartition]:
        if self.table == "channels":
            # S1: ≤50 ids per call → one partition per 50-id batch.
            ids = [c for c in self.options.get("channel_ids", "").split(",") if c]
            return [
                _Partition("channels", ids[i : i + API_PAGE_SIZE])
                for i in range(0, len(ids), API_PAGE_SIZE)
            ] or [_Partition("channels", [])]
        if self.table == "playlist_items":
            # S2: playlists dealt round-robin over min(#playlists, slots)
            # partitions (one per playlist without ``slots``); each
            # partition pages its playlists one after another, so
            # pagination never crosses partitions.
            pids = [p for p in self.options.get("playlist_ids", "").split(",") if p]
            n = max(1, min(len(pids), int(self.options.get("slots", len(pids)))))
            return [_Partition("playlist", pids[i::n]) for i in range(n)]
        if "video_ids_path" in self.options:
            # S3 at scale: ids staged as parquet (pipeline.py stages the
            # anti-join delta there). Planning touches FILE METADATA only —
            # one partition per (file, row group), so a million-id backfill
            # never flows through the driver, the options map, or the plan.
            # Each task reads its own row group's id column and chunks it
            # into ≤50-id API calls; parallelism = staged file count, and
            # the writer caps each file's rows (see pipeline._stage_ids).
            return self._staged_id_partitions(self.options["video_ids_path"])
        # S3: partition per 50-id chunk (inline option — small deltas only;
        # the reference's own shape, fetch_youtube_data.py:113-119).
        vids = [v for v in self.options.get("video_ids", "").split(",") if v]
        return [
            _Partition("videos", vids[i : i + API_PAGE_SIZE])
            for i in range(0, len(vids), API_PAGE_SIZE)
        ] or [_Partition("videos", [])]

    @staticmethod
    def _staged_id_partitions(path: str) -> Sequence[InputPartition]:
        """Plan one partition per (staged file, row group), touching only
        parquet FOOTERS. Listing goes through pyarrow's FileSystem
        abstraction (resolved from the path's scheme), so a warehouse on
        hdfs:// or s3:// plans the same way as file:// — and a missing or
        parquet-less staging path RAISES instead of silently planning an
        empty videos read while the pipeline believes new_videos > 0
        (silent-data-loss fix, ADVICE r5)."""
        import pyarrow.parquet as pq

        fsys, rel, pafs = _resolve_fs(path)
        info = fsys.get_file_info(rel)
        if info.type == pafs.FileType.File:
            files = [rel]
        elif info.type == pafs.FileType.Directory:
            sel = pafs.FileSelector(rel, recursive=False)
            files = sorted(
                f.path
                for f in fsys.get_file_info(sel)
                if f.type == pafs.FileType.File and f.path.endswith(".parquet")
            )
        else:
            raise FileNotFoundError(
                f"video_ids_path {path!r} does not exist on its filesystem"
            )
        if not files:
            raise FileNotFoundError(
                f"video_ids_path {path!r} contains no .parquet files — "
                "refusing to plan an empty staged-id read"
            )
        parts: list[_Partition] = []
        for f in files:
            with fsys.open_input_file(f) as fh:
                meta = pq.ParquetFile(fh).metadata  # footer only, no row data
            for rg in range(meta.num_row_groups):
                if meta.row_group(rg).num_rows > 0:
                    parts.append(_Partition("videos_staged", (f, rg)))
        # files exist but hold zero rows: a legitimately EMPTY staged delta
        return parts or [_Partition("videos", [])]

    def read(self, partition: _Partition) -> Iterator[tuple]:
        transport = make_transport(self.options)
        if partition.kind == "channels":
            if not partition.payload:
                return
            # .get("items", []): the real API omits the key on empty result
            # sets (deleted/unknown ids) — indexing crashed the task (r6).
            for item in transport.channels_list(partition.payload).get("items", []):
                yield (
                    item["id"],
                    item["snippet"]["title"],
                    item["snippet"]["publishedAt"],
                    item["snippet"].get("country"),
                    item["statistics"]["subscriberCount"],
                    item["statistics"]["viewCount"],
                    item["statistics"]["videoCount"],
                    item["contentDetails"]["relatedPlaylists"]["uploads"],
                )
        elif partition.kind == "playlist":
            # Serial nextPageToken loop per playlist — the reference's
            # :86-100, per partition instead of per process.
            for pid in partition.payload:
                token = None
                page = 0
                while True:
                    resp = transport.playlist_items_list(pid, token)
                    for item in resp.get("items", []):
                        yield (pid, item["contentDetails"]["videoId"], page)
                    token = resp.get("nextPageToken")
                    if not token:
                        break
                    page += 1
        elif partition.kind == "videos_staged":
            import pyarrow.parquet as pq

            fpath, rg = partition.payload
            col = self.options.get("ids_column", "videoId")
            # re-resolve the staging filesystem on the EXECUTOR from the
            # original option (the payload path is fs-relative)
            fsys, _, _ = _resolve_fs(self.options["video_ids_path"])
            with fsys.open_input_file(fpath) as fh:
                ids = (
                    pq.ParquetFile(fh)
                    .read_row_group(rg, columns=[col])
                    .column(0)
                    .to_pylist()
                )
            for i in range(0, len(ids), API_PAGE_SIZE):
                yield from self._emit_videos(transport, ids[i : i + API_PAGE_SIZE])
        else:
            if not partition.payload:
                return
            yield from self._emit_videos(transport, partition.payload)

    @staticmethod
    def _emit_videos(transport, ids: Sequence[str]) -> Iterator[tuple]:
        for item in transport.videos_list(ids).get("items", []):
            sn, st = item["snippet"], item["statistics"]
            yield (
                item["id"],
                sn.get("channelTitle"),
                sn.get("title"),
                sn.get("description"),
                sn.get("tags"),
                sn.get("publishedAt"),
                st.get("likeCount"),
                st.get("viewCount"),
                st.get("commentCount"),
                st.get("favoriteCount"),
                item["contentDetails"].get("duration"),
            )


def lookup_channels(options: dict) -> list[tuple]:
    """The ``channels`` table's rows, fetched in the calling process by the
    reader's own S1 code: its 50-id partitions, transport stack (retries
    included) and field mapping. ``pipeline.run_etl`` looks channels up on
    the driver this way, the reference's own P3 step
    (fetch_youtube_data.py:146-149): the rows are bounded by the channel
    count, and one list serves the playlist ids, the channel count and the
    dimension write, so all three come from one fetch."""
    reader = YouTubeReader({**options, "table": "channels"})
    return [row for part in reader.partitions() for row in reader.read(part)]


class YouTubeDataSource(DataSource):
    """``spark.read.format("youtube_api")`` — API-shaped source with the
    reference's batching encoded as partitioning."""

    @classmethod
    def name(cls) -> str:
        return "youtube_api"

    def schema(self):
        return _SCHEMAS[self.options.get("table", "videos")]

    def reader(self, schema) -> YouTubeReader:
        return YouTubeReader(dict(self.options))
