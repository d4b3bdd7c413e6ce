"""End-to-end pipeline + REST connector tests (VERDICT r1 #2/#3).

A canned transport stands in for the Spotify API — the same injection seam
the production path exposes (sources/rest.py: ``transport`` param). Every
previously-untested stage runs here as one composed flow: token flow (S1),
search LIMIT-1 (S3), top-tracks (S4), durable cursor scan + clamp (S5/F6),
PERMISSIVE malformed docs (F8), flatten (P1-P4/P9), quality gate (F1-F4),
CSV / append sinks (K1/K2), summary record (K4).
"""

from __future__ import annotations

import base64
import datetime as dt
import json
import os
import urllib.parse

import pytest
from pyspark.sql import functions as F

from airflow_spotify_etl_spark.operators.flatten import (
    RECENTLY_PLAYED_FIELDS,
    flatten_with_defaults,
)
from airflow_spotify_etl_spark.pipelines import (
    run_recently_played_analysis,
    run_recently_played_etl,
    run_top_tracks_etl,
)
from airflow_spotify_etl_spark.sources.rest import OAuthUserAuth, SpotifyRestSource


def _track(i: int, *, artists=True, explicit=False, popularity=None) -> dict:
    return {
        "id": f"trk-{i}",
        "name": f"Song {i}",
        "popularity": 50 + i if popularity is None else popularity,
        "duration_ms": 200_000 + i * 1000,
        "explicit": explicit,
        "preview_url": f"https://p.example/{i}",
        "artists": [{"id": f"art-{i % 2}", "name": f"Artist {i % 2}"}] if artists else [],
        "album": {"id": f"alb-{i}", "name": f"Album {i}", "release_date": "2024-01-01"},
        "external_urls": {"spotify": f"https://open.spotify.com/track/trk-{i}"},
    }


class CannedTransport:
    """Routes URLs to canned payloads; records every request for asserts."""

    def __init__(self, n_recent: int = 5):
        self.calls: list[tuple[str, dict, bytes | None]] = []
        self.n_recent = n_recent

    def __call__(self, url: str, headers: dict, data: bytes | None = None) -> dict:
        self.calls.append((url, headers, data))
        if url.startswith("https://accounts.spotify.com/api/token"):
            return {"access_token": "tok-abc", "expires_in": 3600}
        if "/v1/search" in url:
            return {"artists": {"items": [{"id": "art-0", "name": "Artist 0"}]}}
        if "/top-tracks" in url:
            return {"tracks": [_track(i) for i in range(3)]}
        if "/me/player/recently-played" in url:
            items = [
                {
                    "played_at": f"2024-01-01T10:{i:02d}:00.000Z",
                    "track": _track(i, explicit=(i == 1)),
                }
                for i in range(self.n_recent)
            ]
            return {"items": items}
        raise AssertionError(f"unexpected URL {url}")


@pytest.fixture()
def transport():
    return CannedTransport()


@pytest.fixture()
def source(spark, transport):
    spark.conf.set("spark.spotify.client_id", "cid")
    spark.conf.set("spark.spotify.client_secret", "sec")
    return SpotifyRestSource(spark, transport=transport)


# -- connector unit coverage (S1-S5, F6, F8) -------------------------------

def test_token_flow_sends_basic_auth(source, transport):
    assert source.token() == "tok-abc"
    url, headers, data = transport.calls[0]
    expected = base64.b64encode(b"cid:sec").decode()
    assert headers["Authorization"] == f"Basic {expected}"
    assert data == b"grant_type=client_credentials"
    # Token is cached — a second scan must not re-POST (reference caches the
    # token per run, spotify_etl.py:220).
    source.token()
    assert sum("accounts.spotify" in u for u, _, _ in transport.calls) == 1


def test_search_pushes_limit_1(source, transport):
    df = source.search_artist("Artist 0")
    assert df.count() == 1
    search_url = next(u for u, _, _ in transport.calls if "/v1/search" in u)
    assert "limit=1" in search_url and "q=Artist+0" in search_url


def test_recently_played_clamps_limit(source, transport):
    source.recently_played(limit=999)
    url = next(u for u, _, _ in transport.calls if "recently-played" in u)
    assert "limit=50" in url
    source.recently_played(limit=0)
    url2 = [u for u, _, _ in transport.calls if "recently-played" in u][-1]
    assert "limit=1" in url2


def test_permissive_malformed_doc_becomes_defaults(spark, source):
    """F8 — a malformed track doc (wrong types) nulls out instead of failing
    the scan; flatten then fills the reference defaults (spotify_etl.py:241)."""
    from airflow_spotify_etl_spark.operators.flatten import (
        TRACK_FIELDS,
        flatten_with_defaults,
    )

    rows = [
        {"played_at": None, "track": _track(1)},
        {"played_at": None, "track": {"popularity": "NOT-A-NUMBER", "artists": []}},
    ]
    df = source._payload_df(rows)
    flat = flatten_with_defaults(df, TRACK_FIELDS)
    got = {r["song_name"]: r for r in flat.collect()}
    assert got["Song 1"]["popularity"] == 51
    bad = got["Unknown"]
    assert bad["artist_name"] == "Unknown"  # artists=[] head-of-array default
    assert bad["popularity"] == 0 and bad["track_id"] == ""


def test_oauth_user_auth_refreshes_and_caches(spark, transport, tmp_path):
    cache = tmp_path / "cache.json"
    cache.write_text(json.dumps({"refresh_token": "r-1"}))
    spark.conf.set("spark.spotify.client_id", "cid")
    spark.conf.set("spark.spotify.client_secret", "sec")
    auth = OAuthUserAuth(spark, cache_path=str(cache), transport=transport)
    assert auth.token() == "tok-abc"
    _, _, data = transport.calls[0]
    assert b"grant_type=refresh_token" in data and b"refresh_token=r-1" in data
    # Cache now holds a fresh access token — second call is transport-free.
    n_calls = len(transport.calls)
    assert auth.token() == "tok-abc"
    assert len(transport.calls) == n_calls


def test_fetch_partitioned_handles_empty_partitions(spark):
    """Executor-side fan-out: partitions whose keys return no records must
    still yield schema-conformant (empty) frames (ADVICE r1 fix)."""
    from airflow_spotify_etl_spark.sources.rest import fetch_partitioned

    keys = spark.createDataFrame([(k,) for k in "abcdefgh"], "key string").repartition(8)

    def fetch_one(key: str) -> list[dict]:
        if key in ("a", "b"):
            return [{"key": key, "n": ord(key)}]
        return []  # sparse partition

    out = fetch_partitioned(spark, keys, fetch_one, "key string, n long")
    rows = {(r.key, r.n) for r in out.collect()}
    assert rows == {("a", 97), ("b", 98)}
    assert out.columns == ["key", "n"]


# -- composed end-to-end flows (the reference's three entry points) --------

def test_top_tracks_etl_end_to_end(spark, source, tmp_path):
    out = str(tmp_path / "songs_csv")
    summary = run_top_tracks_etl(
        spark, source, "Artist 0", out, execution_date="2024-01-02"
    )
    assert summary["tracks_processed"] == 3
    assert summary["avg_popularity"] == 51.0  # mean(50, 51, 52)
    assert summary["status"] == "success"
    back = spark.read.option("header", True).csv(out)
    assert back.count() == 3
    assert set(back.columns) >= {"artist_name", "song_name", "popularity", "track_id"}


def test_top_tracks_etl_artist_not_found_raises(spark, tmp_path):
    class EmptySearch(CannedTransport):
        def __call__(self, url, headers, data=None):
            if "/v1/search" in url:
                return {"artists": {"items": []}}
            return super().__call__(url, headers, data)

    src = SpotifyRestSource(spark, transport=EmptySearch())
    with pytest.raises(ValueError, match="not found"):
        run_top_tracks_etl(spark, src, "Nobody", str(tmp_path / "x"))


def test_recently_played_etl_is_idempotent(spark, source, tmp_path):
    db = str(tmp_path / "recently_played")
    s1 = run_recently_played_etl(spark, source, db, limit=50)
    assert s1["tracks_processed"] == 5 and s1["rows_appended"] == 5
    assert s1["unique_artists"] == 2
    assert s1["date_range"] == "2024-01-01 to 2024-01-01"
    assert s1["status"] == "success"
    # Re-run with the same payload: the reference double-inserts here
    # (spotify_etl2.py:220); the anti-join guard appends nothing.
    s2 = run_recently_played_etl(spark, source, db, limit=50)
    assert s2["rows_appended"] == 0
    assert spark.read.parquet(db).count() == 5


def test_recently_played_etl_empty_is_no_data(spark, tmp_path):
    class Empty(CannedTransport):
        def __call__(self, url, headers, data=None):
            if "recently-played" in url:
                return {"items": []}
            return super().__call__(url, headers, data)

    src = SpotifyRestSource(spark, transport=Empty(), token="t")
    out = run_recently_played_etl(spark, src, str(tmp_path / "db"))
    assert out == {"tracks_processed": 0, "status": "no_data"}


def test_recently_played_duplicate_pk_raises(spark, tmp_path):
    class Dup(CannedTransport):
        def __call__(self, url, headers, data=None):
            if "recently-played" in url:
                item = {"played_at": "2024-01-01T10:00:00.000Z", "track": _track(1)}
                return {"items": [item, dict(item)]}
            return super().__call__(url, headers, data)

    src = SpotifyRestSource(spark, transport=Dup(), token="t")
    with pytest.raises(ValueError, match="Primary key"):
        run_recently_played_etl(spark, src, str(tmp_path / "db"))


# -- pipeline 2's durable cursor (S5) ----------------------------------------

def _ms(played_at: str) -> int:
    return int(dt.datetime.fromisoformat(played_at.replace("Z", "+00:00")).timestamp() * 1000)


class Timeline(CannedTransport):
    """The recently-played endpoint over a growing play history. It honours
    ``after`` the way the API does: only plays strictly after the cursor
    (epoch ms), the newest ``limit`` of them."""

    def __init__(self):
        super().__init__()
        self.plays: list[str] = []

    def play(self, day: int, *hours: int) -> None:
        self.plays += [f"2024-01-{day:02d}T{h:02d}:00:00.000Z" for h in hours]

    def afters(self) -> list[str | None]:
        """The ``after`` of every recently-played request, in order."""
        return [
            urllib.parse.parse_qs(urllib.parse.urlparse(u).query).get("after", [None])[0]
            for u, _, _ in self.calls
            if "recently-played" in u
        ]

    def __call__(self, url, headers, data=None):
        if "recently-played" not in url:
            return super().__call__(url, headers, data)
        self.calls.append((url, headers, data))
        query = urllib.parse.parse_qs(urllib.parse.urlparse(url).query)
        after = int(query["after"][0]) if "after" in query else None
        fresh = sorted(p for p in self.plays if after is None or _ms(p) > after)
        page = fresh[-int(query["limit"][0]):]
        return {"items": [{"played_at": p, "track": _track(i)} for i, p in enumerate(page)]}


def _cursor(db: str) -> int:
    with open(os.path.join(db, "_cursor.json")) as f:
        return json.load(f)["after_ms"]


def _sink_keys(spark, db: str) -> list[str]:
    return sorted(r.played_at for r in spark.read.parquet(db).select("played_at").collect())


@pytest.fixture()
def timeline(spark):
    api = Timeline()
    return api, SpotifyRestSource(spark, transport=api, token="t")


def test_recently_played_second_run_sends_cursor_in_ms(spark, timeline, tmp_path):
    """The first run sends no ``after``; the second sends the newest
    committed played_at in epoch milliseconds (the API's unit) and gets
    only the play after it."""
    api, src = timeline
    db = str(tmp_path / "db")
    api.play(1, 8, 9, 10)
    assert run_recently_played_etl(spark, src, db)["rows_appended"] == 3
    assert _cursor(db) == 1704103200000  # 2024-01-01T10:00:00Z
    api.play(1, 11)
    out = run_recently_played_etl(spark, src, db)
    assert api.afters() == [None, "1704103200000"]
    assert (out["tracks_processed"], out["rows_appended"]) == (1, 1)
    assert _cursor(db) == _ms("2024-01-01T11:00:00.000Z")


def test_recently_played_skipped_day_lands_both_days_once(spark, timeline, tmp_path):
    """A skipped run loses nothing: the next run fetches every play since
    the cursor, where the reference's ``now - 24h`` misses a day."""
    api, src = timeline
    db = str(tmp_path / "db")
    api.play(1, 8, 9)
    run_recently_played_etl(spark, src, db)
    api.play(2, 8, 9)  # day 2's run is skipped
    api.play(3, 8)
    out = run_recently_played_etl(spark, src, db)
    assert (out["tracks_processed"], out["rows_appended"]) == (3, 3)
    assert out["date_range"] == "2024-01-02 to 2024-01-03"
    assert _sink_keys(spark, db) == sorted(api.plays)


def test_recently_played_late_run_appends_no_duplicate(spark, timeline, tmp_path):
    """A run that starts hours late fetches only the plays after the last
    commit, where a ``now - 24h`` window would fetch the previous run's
    plays again; the next on-time run picks up from the late one."""
    api, src = timeline
    db = str(tmp_path / "db")
    api.play(1, 8, 20)
    run_recently_played_etl(spark, src, db)
    api.play(2, 9, 23)
    api.play(3, 5)  # day 2's run starts on day 3 at 06:00
    late = run_recently_played_etl(spark, src, db)
    assert (late["tracks_processed"], late["rows_appended"]) == (3, 3)
    api.play(3, 7)
    on_time = run_recently_played_etl(spark, src, db)
    assert (on_time["tracks_processed"], on_time["rows_appended"]) == (1, 1)
    assert _sink_keys(spark, db) == sorted(api.plays)


def test_recently_played_lost_cursor_refetches_without_duplicates(spark, timeline, tmp_path):
    """A crash between the append and the cursor write leaves the sink
    ahead of the cursor: the next run re-fetches, the append guard drops
    the page, and the cursor is written again."""
    api, src = timeline
    db = str(tmp_path / "db")
    api.play(1, 8, 9)
    run_recently_played_etl(spark, src, db)
    committed = _cursor(db)
    os.remove(os.path.join(db, "_cursor.json"))
    out = run_recently_played_etl(spark, src, db)
    assert api.afters()[-1] is None
    assert (out["tracks_processed"], out["rows_appended"]) == (2, 0)
    assert _cursor(db) == committed
    assert _sink_keys(spark, db) == sorted(api.plays)


def test_recently_played_cursor_unchanged_by_no_data_or_failed_check(spark, timeline, tmp_path):
    """An empty page returns no_data and a page that fails the primary-key
    check raises; neither moves the cursor, so the next run asks again."""
    api, src = timeline
    db = str(tmp_path / "db")
    api.play(1, 8)
    run_recently_played_etl(spark, src, db)
    committed = _cursor(db)
    assert run_recently_played_etl(spark, src, db) == {
        "tracks_processed": 0,
        "status": "no_data",
    }
    assert _cursor(db) == committed
    api.play(1, 9, 9)
    with pytest.raises(ValueError, match="Primary key"):
        run_recently_played_etl(spark, src, db)
    assert _cursor(db) == committed
    assert api.afters()[1:] == [str(committed)] * 2


def test_recently_played_analysis_end_to_end(spark, source, tmp_path, capsys):
    out = str(tmp_path / "analysis_csv")
    summary = run_recently_played_analysis(
        spark, source, out, limit=10, display_results=True
    )
    assert summary["tracks_processed"] == 5
    assert summary["unique_artists"] == 2
    assert summary["explicit_tracks"] == 1
    assert summary["average_popularity"] == 52.0  # mean(50..54)
    # K3 display actually printed (m:ss duration column included, P8).
    shown = capsys.readouterr().out
    assert "3:2" in shown  # 200s+ → "3:2x"
    back = spark.read.option("header", True).csv(out)
    assert back.count() == 5
    # W1: rank 1 is the most recent played_at.
    top = back.filter(F.col("rank") == 1).collect()[0]
    assert top["played_at"] == "2024-01-01T10:04:00.000Z"


def test_rest_pipelines_run_one_task_per_stage(spark, source, stage_tasks, tmp_path):
    """The REST frames are one partition built on the JVM, so no Python
    worker runs per mostly-empty slice: every stage of the three pipelines
    (the recently-played sink written twice, then an empty page) runs one
    task. The optimizer folds an empty page's frame into an empty local
    relation, whose map stage has no task at all. An empty page still
    returns no_data and flattens to the same schema as a full one."""

    class EmptyPage(CannedTransport):
        def __call__(self, url, headers, data=None):
            if "recently-played" in url:
                return {"items": []}
            return super().__call__(url, headers, data)

    quiet = SpotifyRestSource(spark, transport=EmptyPage(), token="t")
    db = str(tmp_path / "db")
    sc = spark.sparkContext
    group = "rest-one-task-gate"
    sc.setJobGroup(group, "REST pipelines")
    try:
        run_top_tracks_etl(spark, source, "Artist 0", str(tmp_path / "songs"))
        run_recently_played_etl(spark, source, db)
        assert run_recently_played_etl(spark, source, db)["rows_appended"] == 0
        run_recently_played_analysis(
            spark, source, str(tmp_path / "analysis"), display_results=False
        )
        assert run_recently_played_etl(spark, quiet, db) == {
            "tracks_processed": 0,
            "status": "no_data",
        }
        empty = flatten_with_defaults(quiet.recently_played(), RECENTLY_PLAYED_FIELDS)
        full = flatten_with_defaults(source.recently_played(), RECENTLY_PLAYED_FIELDS)
        assert empty.schema == full.schema
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    _, tasks = stage_tasks(group)
    assert tasks and max(tasks.values()) == 1, tasks


def test_oauth_initial_grant_seeds_cache(spark, tmp_path):
    """S6 initial authorization-code grant (reference new.py:63-77): the
    one-time code->token exchange seeds the cache, after which token()
    serves/refreshes WITHOUT re-authorization."""

    class GrantTransport(CannedTransport):
        def __call__(self, url, headers, data=None):
            self.calls.append((url, headers, data))
            assert url.startswith("https://accounts.spotify.com/api/token")
            if b"grant_type=authorization_code" in data:
                return {
                    "access_token": "tok-initial",
                    "refresh_token": "r-initial",
                    "expires_in": 3600,
                    "scope": "user-read-recently-played",
                }
            return {"access_token": "tok-refreshed", "expires_in": 3600}

    spark.conf.set("spark.spotify.client_id", "cid")
    spark.conf.set("spark.spotify.client_secret", "sec")
    t = GrantTransport()
    cache = tmp_path / "cache.json"
    auth = OAuthUserAuth(spark, cache_path=str(cache), transport=t)

    url = auth.authorize_url("http://localhost:8888/callback", state="xyz")
    assert url.startswith("https://accounts.spotify.com/authorize?")
    assert "client_id=cid" in url and "response_type=code" in url
    assert "scope=user-read-recently-played" in url and "state=xyz" in url

    seeded = auth.authorize("code-123", "http://localhost:8888/callback")
    assert seeded["refresh_token"] == "r-initial"
    _, headers, data = t.calls[0]
    creds = base64.b64decode(headers["Authorization"].split()[1]).decode()
    assert creds == "cid:sec"
    assert b"code=code-123" in data
    assert b"redirect_uri=http%3A%2F%2Flocalhost%3A8888%2Fcallback" in data

    # cache is seeded: fresh token served with no further HTTP...
    assert auth.token() == "tok-initial"
    assert len(t.calls) == 1
    # ...and once expired, the refresh grant (not re-authorization) runs.
    stored = json.loads(cache.read_text())
    stored["expires_at"] = 0
    cache.write_text(json.dumps(stored))
    assert auth.token() == "tok-refreshed"
    assert b"grant_type=refresh_token" in t.calls[-1][2]
