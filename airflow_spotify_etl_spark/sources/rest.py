"""REST micro-connector (SURVEY.md §2.1 S1-S6, §4 custom-work #1).

The reference drives the Spotify Web API imperatively (token POST
spotify_etl.py:46-87; artist search :95-130; top-tracks :133-167;
recently-played spotify_etl2.py:89-132; spotipy OAuth new.py:51-140). The
engine wraps the same endpoints as a *source connector* whose scan
parameters ARE the pushed-down predicates:

- ``after``  → time-range predicate pushed to the source (F5/S5 — the
  reference ships ``after=`` as a query param instead of post-filtering).
- ``limit``  → limit pushdown, clamped to the API cap of 50 (F6).
- ``market`` → partition-pruning-like parameter (S4).

Fetch happens driver-side (payloads are ≤50 docs by API contract — tiny),
then becomes a one-partition DataFrame built on the JVM from a single
Arrow batch, parsed with the explicit nested payload schema; flattening
runs as Catalyst expressions. A list handed to ``createDataFrame`` would
instead be parallelized through a ``PythonRDD`` into one slice per core,
so every action on the frame (take, quality check, append, CSV, summary)
would start a Python worker per mostly-empty slice. The Arrow batch stays
on the JVM, and one partition makes each action one task and lets global
aggregates and the rank window run without a shuffle. For a hypothetical
many-partition REST source (thousands of artists), ``fetch_partitioned``
shows the scale shape: keys distributed via ``mapInPandas`` so each executor
fetches its own slice — the driver never becomes the bottleneck.

``transport`` is injectable so tests (and air-gapped runs) supply canned
payloads; the default transport uses urllib from the Python stdlib.
No credentials live in code: resolution order is Spark conf →
environment — config layer parity with the reference's Variable.get →
os.getenv fallback chain (S2, spotify_etl.py:13-43).
"""

from __future__ import annotations

import base64
import json
import urllib.parse
import urllib.request
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.flatten import track_payload_schema

__all__ = [
    "SpotifyRestSource",
    "OAuthUserAuth",
    "resolve_credential",
    "default_transport",
]

_API = "https://api.spotify.com/v1"
_TOKEN_URL = "https://accounts.spotify.com/api/token"
_TIMEOUT = 30  # reference uses timeout=30 on every call (spotify_etl.py:69)


def resolve_credential(spark: SparkSession, key: str) -> str:
    """Spark conf → env → error: the reference's Airflow-Variable →
    env-var → raise chain (S2), with Spark conf standing in for Airflow
    Variables (Airflow passes them via --conf per SURVEY.md §2.11)."""
    import os

    v = spark.conf.get(f"spark.spotify.{key}", None) or os.environ.get(
        f"SPOTIFY_{key.upper()}"
    )
    if not v:
        raise ValueError(
            f"credential {key!r} not found in spark.spotify.{key} or "
            f"SPOTIFY_{key.upper()}"
        )
    return v


def default_transport(url: str, headers: dict, data: bytes | None = None) -> dict:
    """Minimal stdlib HTTP transport; swapped out by tests."""
    req = urllib.request.Request(url, data=data, headers=headers)
    with urllib.request.urlopen(req, timeout=_TIMEOUT) as resp:  # noqa: S310
        return json.loads(resp.read().decode())


def _token_grant(
    spark: SparkSession, transport: Callable[..., dict], **fields: str
) -> dict:
    """POST one grant to the token endpoint with Basic client auth (the
    public Spotify OAuth contract) and return the JSON payload. ``fields``
    are the form body: ``grant_type`` plus the grant's own fields."""
    cid = resolve_credential(spark, "client_id")
    secret = resolve_credential(spark, "client_secret")
    auth = base64.b64encode(f"{cid}:{secret}".encode()).decode()
    return transport(
        _TOKEN_URL,
        {
            "Authorization": f"Basic {auth}",
            "Content-Type": "application/x-www-form-urlencoded",
        },
        data=urllib.parse.urlencode(fields).encode(),
    )


class OAuthUserAuth:
    """S6 — user-context OAuth provider (new.py:51-81): refresh-token flow
    with a durable token cache, the engine twin of spotipy's
    ``.spotify_cache`` (new.py:68).

    The full spotipy flow (new.py:63-77: SpotifyOAuth with scope
    ``user-read-recently-played`` seeding ``.spotify_cache``) maps to:

    1. ``authorize_url(...)`` — the URL the user opens once in a browser
       (spotipy opens it automatically); Spotify redirects back with
       ``?code=...``.
    2. ``authorize(code, redirect_uri)`` — the one-time
       authorization-code → token grant; seeds the cache file.
    3. ``token()`` — every run: serves the cached access token while fresh,
       otherwise exchanges the refresh token (POST grant_type=refresh_token
       with Basic client auth — the public Spotify OAuth contract),
       rewriting the cache."""

    SCOPE = "user-read-recently-played"  # new.py:88

    def __init__(
        self,
        spark: SparkSession,
        cache_path: str = ".spotify_cache",
        transport: Callable[..., dict] | None = None,
        expiry_slack_s: int = 60,
    ) -> None:
        self.spark = spark
        self.cache_path = cache_path
        self.transport = transport or default_transport
        self.expiry_slack_s = expiry_slack_s

    def _read_cache(self) -> dict:
        import os

        if not os.path.exists(self.cache_path):
            raise ValueError(
                f"OAuth cache {self.cache_path!r} not found — run the "
                "one-time interactive authorization to seed it"
            )
        with open(self.cache_path) as f:
            return json.load(f)

    def authorize_url(
        self,
        redirect_uri: str,
        scope: str | None = None,
        state: str | None = None,
    ) -> str:
        """The one-time browser consent URL (the step spotipy performs by
        opening a local browser, new.py:63-71). No HTTP here — the user
        visits it and Spotify redirects to ``redirect_uri?code=...``."""
        cid = resolve_credential(self.spark, "client_id")
        params = {
            "client_id": cid,
            "response_type": "code",
            "redirect_uri": redirect_uri,
            "scope": scope or self.SCOPE,
        }
        if state:
            params["state"] = state
        return "https://accounts.spotify.com/authorize?" + urllib.parse.urlencode(
            params
        )

    def authorize(self, code: str, redirect_uri: str) -> dict:
        """One-time authorization-code → token grant; SEEDS the cache the
        refresh-token flow then lives off (closing the loop spotipy's
        SpotifyOAuth cache_path performs, new.py:63-77). Returns the cache
        dict. ``redirect_uri`` must byte-match the one used in
        ``authorize_url`` (OAuth spec requirement, enforced by Spotify)."""
        import time

        payload = _token_grant(
            self.spark,
            self.transport,
            grant_type="authorization_code",
            code=code,
            redirect_uri=redirect_uri,
        )
        cache = {
            "access_token": payload["access_token"],
            "refresh_token": payload["refresh_token"],
            "expires_at": time.time() + payload.get("expires_in", 3600),
            "scope": payload.get("scope", self.SCOPE),
        }
        with open(self.cache_path, "w") as f:
            json.dump(cache, f)
        return cache

    def token(self) -> str:
        import time

        cache = self._read_cache()
        if cache.get("access_token") and time.time() < (
            cache.get("expires_at", 0) - self.expiry_slack_s
        ):
            return cache["access_token"]
        payload = _token_grant(
            self.spark,
            self.transport,
            grant_type="refresh_token",
            refresh_token=cache["refresh_token"],
        )
        cache["access_token"] = payload["access_token"]
        cache["expires_at"] = time.time() + payload.get("expires_in", 3600)
        # Spotify may rotate the refresh token on exchange.
        if payload.get("refresh_token"):
            cache["refresh_token"] = payload["refresh_token"]
        with open(self.cache_path, "w") as f:
            json.dump(cache, f)
        return cache["access_token"]


class SpotifyRestSource:
    """Parameterized scans over the Spotify REST endpoints. ``auth`` is any
    object with a ``token() -> str`` method (``OAuthUserAuth`` for S6
    user-context scans); default is the S1 client-credentials flow."""

    def __init__(
        self,
        spark: SparkSession,
        transport: Callable[..., dict] | None = None,
        token: str | None = None,
        auth: object | None = None,
    ) -> None:
        self.spark = spark
        self.transport = transport or default_transport
        self._token = token
        self._auth = auth

    # -- auth (S1: client-credentials token, spotify_etl.py:46-87) --------
    def token(self) -> str:
        if self._auth is not None:
            return self._auth.token()
        if self._token is None:
            payload = _token_grant(
                self.spark, self.transport, grant_type="client_credentials"
            )
            self._token = payload["access_token"]
        return self._token

    def _get(self, path: str, **params) -> dict:
        qs = urllib.parse.urlencode({k: v for k, v in params.items() if v is not None})
        return self.transport(
            f"{_API}{path}?{qs}" if qs else f"{_API}{path}",
            {"Authorization": f"Bearer {self.token()}"},
        )

    # -- scans ------------------------------------------------------------
    def search_artist(self, name: str) -> DataFrame:
        """S3 — point lookup with LIMIT 1 pushed to the source
        (spotify_etl.py:95-130; URL-encoding parity with :108)."""
        payload = self._get("/search", q=name, type="artist", limit=1)
        items = payload.get("artists", {}).get("items", [])[:1]
        return self._frame(
            artist_id=[a.get("id", "") for a in items],
            artist_name=[a.get("name", "Unknown") for a in items],
        )

    def top_tracks(self, artist_id: str, market: str = "US") -> DataFrame:
        """S4 — top-tracks scan; ``market`` prunes at the source
        (spotify_etl.py:133-167). Returns the nested payload schema."""
        payload = self._get(f"/artists/{artist_id}/top-tracks", market=market)
        rows = [{"played_at": None, "track": t} for t in payload.get("tracks", [])]
        return self._payload_df(rows)

    def recently_played(self, after_ms: int | None = None, limit: int = 50) -> DataFrame:
        """S5 — incremental cursor scan: ``after`` (time predicate, epoch
        milliseconds — the unit of the cursor ``run_recently_played_etl``
        keeps) and ``limit`` (clamped ≤50) pushed down exactly as the
        reference ships them (spotify_etl2.py:102-117)."""
        limit = min(max(limit, 1), 50)  # F6 clamp (new.py:97)
        payload = self._get("/me/player/recently-played", after=after_ms, limit=limit)
        rows = [
            {"played_at": it.get("played_at"), "track": it.get("track", {})}
            for it in payload.get("items", [])
        ]
        return self._payload_df(rows)

    def _frame(self, **columns: list[str | None]) -> DataFrame:
        """Driver-held string columns → a one-partition DataFrame built on
        the JVM from one Arrow batch (see the module docstring); no Python
        worker runs for it, whatever actions follow."""
        import pyarrow as pa

        table = pa.table({k: pa.array(v, pa.string()) for k, v in columns.items()})
        return self.spark.createDataFrame(table).coalesce(1)

    def _payload_df(self, rows: list[dict]) -> DataFrame:
        """Nested payload → DataFrame via the explicit schema. Round-trips
        through JSON strings + from_json so malformed docs become nulls
        (PERMISSIVE — F8 per-row error tolerance, spotify_etl.py:239-255)
        instead of failing the scan. An empty payload takes the same path
        and yields zero rows of the same schema."""
        schema = track_payload_schema()
        raw = self._frame(raw=[json.dumps(r) for r in rows])
        return raw.select(
            F.from_json("raw", schema, {"mode": "PERMISSIVE"}).alias("doc")
        ).select("doc.*")


def fetch_partitioned(
    spark: SparkSession,
    keys: DataFrame,
    fetch_one: Callable[[str], list[dict]],
    out_schema: str,
) -> DataFrame:
    """Scale shape for many-key REST scans: distribute keys, each executor
    fetches its slice via Arrow-batched ``mapInPandas`` (SURVEY.md §2.10:
    pandas reserved for the connector). ``fetch_one`` must be picklable and
    self-contained (no driver session references)."""
    import pandas as pd
    from pyspark.sql import types as T

    schema = (
        T.StructType.fromDDL(out_schema) if isinstance(out_schema, str) else out_schema
    )
    out_cols = [f.name for f in schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for key in pdf.iloc[:, 0]:
                out.extend(fetch_one(key))
            # A keys-partition with zero records must still yield the output
            # columns — a column-less DataFrame fails schema validation.
            yield pd.DataFrame(out, columns=out_cols)

    return keys.mapInPandas(run, schema=schema)
