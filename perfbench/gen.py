"""Seeded input generators for the perfbench workloads.

Every input the benchmark feeds the engine is built here from ``--seed``
alone: the same seed gives byte-identical inputs, and no generator reads
the wall clock or any file outside its output directory.

- ``spotify_days``    canned Spotify API payloads for ``dag_day``: a track
  catalog, one recently-played payload per day that replays a fixed share
  of the previous day's plays, a few malformed items, the day's artist
  search and top-tracks answers, and a year of sink history.
- ``corpus_plan``     the ``documents`` table for ``corpus_build``: a
  committed sample of the fixture ``documents`` table tiled with a per-copy
  vocabulary remap, plus planted exact duplicates and near-duplicate
  clusters at stated rates.

The parquet files are written by this module run as a child process
(``materialize``), so DuckDB and pandas never load into the benchmark's
own process:

    python3 perfbench/gen.py {history|corpus} SEED SIZE OUT_DIR
    python3 perfbench/gen.py sample FIXTURE_DIR   # rebuild data/documents_sample.jsonl.gz
"""

from __future__ import annotations

import datetime as dt
import gzip
import hashlib
import json
import os
import random
import subprocess
import sys
import urllib.parse
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal

__all__ = [
    "SpotifyDay",
    "SpotifyPlan",
    "CannedTransport",
    "CorpusPlan",
    "spotify_days",
    "write_history",
    "corpus_plan",
    "write_corpus",
    "materialize",
    "round_half_up",
]

PLAYS_PER_DAY = 50  # the API caps one recently-played page at 50 items
REPLAY_SHARE = 0.2  # share of a day's page that repeats the previous day
MALFORMED_PER_DAY = 2  # items whose track fields have the wrong JSON types
ANALYSIS_LIMIT = 10  # recently_played_analysis scan size (its job default)
TOP_TRACKS = 10  # tracks the top-tracks endpoint returns per artist
HISTORY_DAYS = 365


def round_half_up(x: float, places: int = 2) -> float:
    """Spark's ``round`` on a double: HALF_UP on its decimal string."""
    q = Decimal(1).scaleb(-places)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def _rng(seed: int, salt: str) -> random.Random:
    digest = hashlib.sha256(f"{seed}:{salt}".encode()).digest()
    return random.Random(int.from_bytes(digest[:8], "big"))


# --------------------------------------------------------------------------
# Spotify payloads (dag_day)


def _catalog(seed: int, n_artists: int = 40, n_tracks: int = 800) -> list[dict]:
    rng = _rng(seed, "catalog")
    tracks = []
    for i in range(n_tracks):
        a = rng.randrange(n_artists)
        release = rng.choice(["%Y", "%Y-%m", "%Y-%m-%d"])
        day = dt.date(1990, 1, 1) + dt.timedelta(days=rng.randrange(12000))
        tracks.append(
            {
                "id": f"trk{i:05d}",
                "name": f"Song {i}",
                "popularity": rng.randrange(101),
                "duration_ms": rng.randrange(90_000, 420_000),
                "explicit": rng.random() < 0.2,
                "preview_url": f"https://p.example/{i}",
                "artists": [{"id": f"art{a:03d}", "name": f"Artist {a}"}],
                "album": {
                    "id": f"alb{i // 8:04d}",
                    "name": f"Album {i // 8}",
                    "release_date": day.strftime(release),
                },
                "external_urls": {"spotify": f"https://open.example/track/trk{i:05d}"},
            }
        )
    return tracks


@dataclass
class SpotifyDay:
    """One DAG day's canned API answers and the summaries it must produce."""

    date: str
    items: list[dict]  # recently-played page, newest first
    artist: dict  # the day's search answer
    top_tracks: list[dict]
    new_keys: list[str]  # played_at values not seen on any earlier day
    expected: dict[str, dict] = field(default_factory=dict)


@dataclass
class SpotifyPlan:
    start: str  # first backfill day
    history: list[dict]  # flattened sink rows of the year before ``start``
    days: list[SpotifyDay]

    def fingerprint(self) -> str:
        h = hashlib.sha256()
        h.update(json.dumps(self.history, sort_keys=True).encode())
        for d in self.days:
            h.update(json.dumps([d.items, d.artist, d.top_tracks], sort_keys=True).encode())
        return h.hexdigest()[:16]


def _malform(track: dict) -> dict:
    bad = dict(track)
    bad["popularity"] = "NOT-A-NUMBER"
    bad["duration_ms"] = "unknown"
    return bad


def _flat_play(item: dict) -> dict:
    """The sink row ``recently_played_etl`` writes for one payload item."""
    t = item["track"]
    pop = t["popularity"] if isinstance(t["popularity"], int) else 0
    dur = t["duration_ms"] if isinstance(t["duration_ms"], int) else 0
    return {
        "song_name": t["name"],
        "artist_name": t["artists"][0]["name"],
        "played_at": item["played_at"],
        "timestamp": item["played_at"][:10],
        "track_id": t["id"],
        "album_name": t["album"]["name"],
        "duration_ms": dur,
        "popularity": pop,
    }


def _day_plays(rng: random.Random, catalog: list[dict], day: dt.date, n: int) -> list[dict]:
    secs = sorted(rng.sample(range(86_400), n))
    out = []
    for s in secs:
        ms = rng.randrange(1000)
        ts = dt.datetime.combine(day, dt.time()) + dt.timedelta(seconds=s, milliseconds=ms)
        out.append(
            {
                "played_at": ts.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ms:03d}Z",
                "track": rng.choice(catalog),
            }
        )
    return out


def spotify_days(seed: int, n_days: int) -> SpotifyPlan:
    """Plan a catch-up backfill of ``n_days`` consecutive days.

    Each day's page holds ``PLAYS_PER_DAY`` items: the newest
    ``REPLAY_SHARE`` of the previous day's page (the API serves the latest
    50 plays, so a daily poll re-reads the tail of yesterday) and fresh
    plays of the day, ``MALFORMED_PER_DAY`` of them with wrongly typed track
    fields. The year of history before the first day is flattened sink rows.
    """
    rng = _rng(seed, "spotify")
    catalog = _catalog(seed)
    start = dt.date(2019, 1, 1) + dt.timedelta(days=rng.randrange(730))
    n_replay = int(PLAYS_PER_DAY * REPLAY_SHARE)
    n_new = PLAYS_PER_DAY - n_replay

    history = []
    prev: list[dict] = []
    for k in range(HISTORY_DAYS, 0, -1):
        prev = _day_plays(rng, catalog, start - dt.timedelta(days=k), n_new)
        history.extend(_flat_play(it) for it in prev)

    days = []
    for k in range(n_days):
        day = start + dt.timedelta(days=k)
        fresh = _day_plays(rng, catalog, day, n_new)
        for i in rng.sample(range(n_new), MALFORMED_PER_DAY):
            fresh[i] = {"played_at": fresh[i]["played_at"], "track": _malform(fresh[i]["track"])}
        page = sorted(prev[-n_replay:] + fresh, key=lambda it: it["played_at"], reverse=True)
        artist_id = rng.randrange(40)
        artist_tracks = [t for t in catalog if t["artists"][0]["id"] == f"art{artist_id:03d}"]
        top = sorted(artist_tracks, key=lambda t: (-t["popularity"], t["id"]))[:TOP_TRACKS]
        d = SpotifyDay(
            date=str(day),
            items=page,
            artist={"id": f"art{artist_id:03d}", "name": f"Artist {artist_id}"},
            top_tracks=top,
            new_keys=[it["played_at"] for it in fresh],
        )
        d.expected = _expected_summaries(d)
        days.append(d)
        prev = fresh
    return SpotifyPlan(start=str(start), history=history, days=days)


def _expected_summaries(d: SpotifyDay) -> dict[str, dict]:
    flat = [_flat_play(it) for it in d.items]
    recent = [_flat_play(it) for it in d.items[:ANALYSIS_LIMIT]]
    top_pops = [t["popularity"] for t in d.top_tracks]
    explicit = [it["track"]["explicit"] for it in d.items[:ANALYSIS_LIMIT]]
    return {
        "top_tracks_etl": {
            "artist_name": d.artist["name"],
            "tracks_processed": len(d.top_tracks),
            "avg_popularity": round_half_up(sum(top_pops) / len(top_pops)),
        },
        "recently_played_etl": {
            "tracks_processed": len(flat),
            "rows_appended": len(d.new_keys),
            "unique_artists": len({r["artist_name"] for r in flat}),
            "date_range": f"{min(r['timestamp'] for r in flat)} to "
            f"{max(r['timestamp'] for r in flat)}",
        },
        "recently_played_analysis": {
            "tracks_processed": len(recent),
            "unique_artists": len({r["artist_name"] for r in recent}),
            "average_popularity": round_half_up(
                sum(r["popularity"] for r in recent) / len(recent)
            ),
            "explicit_tracks": sum(bool(e) for e in explicit),
        },
    }


class CannedTransport:
    """The Spotify Web API for one day, answered from the day's plan.

    Plugs into ``SpotifyRestSource(transport=...)``; honours the ``limit``
    query parameter like the real endpoint and counts the calls it serves.
    """

    def __init__(self, day: SpotifyDay):
        self.day = day
        self.calls = 0

    def __call__(self, url: str, headers: dict, data: bytes | None = None) -> dict:
        self.calls += 1
        parsed = urllib.parse.urlparse(url)
        query = urllib.parse.parse_qs(parsed.query)
        if parsed.path.endswith("/search"):
            return {"artists": {"items": [self.day.artist]}}
        if parsed.path.endswith("/top-tracks"):
            return {"tracks": self.day.top_tracks}
        if parsed.path.endswith("/me/player/recently-played"):
            limit = int(query.get("limit", ["50"])[0])
            return {"items": self.day.items[:limit]}
        raise ValueError(f"unexpected URL {url}")


def _duckdb():
    """A DuckDB connection with threads capped at the cores this process may use."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    return con


def write_history(rows: list[dict], path: str) -> None:
    """Write the sink history as the date-partitioned parquet table
    ``append_table`` maintains (``timestamp=YYYY-MM-DD`` directories)."""
    import pandas as pd

    con = _duckdb()
    df = pd.DataFrame(rows).astype({"duration_ms": "int64", "popularity": "int32"})
    con.register("hist", df)
    con.execute(
        f"COPY (SELECT * FROM hist) TO '{path}' "
        "(FORMAT PARQUET, PARTITION_BY (timestamp))"
    )
    con.close()


# --------------------------------------------------------------------------
# Corpus (corpus_build)

SAMPLE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents_sample.jsonl.gz")
SAMPLE_DOCS = 1000  # distinct texts kept from the fixture ``documents`` table
CORPUS_DOCS = 5000  # base documents: the sample tiled five times
EXACT_DUP_RATE = 0.10  # extra verbatim copies, as a share of base docs
NEAR_DUP_RATE = 0.05  # base docs that seed a near-duplicate cluster
NEAR_DUP_COPIES = 2  # edited copies per near-duplicate cluster
NEAR_DUP_MIN_WORDS = 40  # cluster seeds are long enough that one edit keeps Jaccard > 0.8


def load_sample(path: str = SAMPLE) -> list[tuple[str, str]]:
    """(lang, text) of each document in the committed fixture sample."""
    with gzip.open(path, "rt") as f:
        return [(d["lang"], d["text"]) for d in map(json.loads, f)]


def tile(sample: list[tuple[str, str]], n: int) -> list[tuple[str, str]]:
    """The first ``n`` documents of the sample repeated, each word ``w`` of
    copy ``c > 0`` renamed ``w + "q" + c``: copies are neither exact nor near
    duplicates of each other, and the vocabulary grows with the corpus."""
    out = []
    for i in range(n):
        c, (lang, text) = i // len(sample), sample[i % len(sample)]
        out.append((lang, text if c == 0 else " ".join(f"{w}q{c}" for w in text.split(" "))))
    return out


@dataclass
class CorpusPlan:
    rows: list[tuple[int, str, str, str]]  # (doc_id, lang, text, source) in file order
    n_unique_texts: int  # distinct texts: what exact dedup must keep
    n_planted_extra: int  # distinct texts each cluster must lose: all but one
    near_clusters: list[list[int]]  # doc_ids of each planted near-dup cluster
    fingerprint: str

    @property
    def n_docs(self) -> int:
        return len(self.rows)


def corpus_plan(seed: int, n_base: int) -> CorpusPlan:
    """``n_base`` documents tiled from the fixture sample, plus
    ``EXACT_DUP_RATE`` verbatim copies and ``NEAR_DUP_RATE`` clusters of
    ``NEAR_DUP_COPIES`` copies with one word replaced each.

    The seed chooses the duplicated documents, the edits, the sources and
    the order of the rows in the file. Doc ids do not move with the seed:
    tiled documents keep their tile index and the copies follow, so the
    near-duplicate graph of the fixture text, whose min-label propagation
    rounds depend on the ids, costs the same for every seed. Every tiled
    fixture document passes the pipeline's quality and repetition gates, so
    exact dedup must keep exactly the distinct texts.
    """
    rng = _rng(seed, "corpus")
    texts = tile(load_sample(), n_base)
    n_exact = int(n_base * EXACT_DUP_RATE)
    n_near = int(n_base * NEAR_DUP_RATE)
    long_docs = [i for i, (_, t) in enumerate(texts) if t.count(" ") + 1 >= NEAR_DUP_MIN_WORDS]
    near_seeds = rng.sample(long_docs, n_near)
    taken = set(near_seeds)
    exact_seeds = rng.sample([i for i in range(n_base) if i not in taken], n_exact)
    docs = list(texts) + [texts[i] for i in exact_seeds]
    clusters: list[list[int]] = []
    for i in near_seeds:
        lang, text = texts[i]
        clusters.append([i])
        words = text.split(" ")
        for pos in rng.sample(range(1, len(words) - 1), NEAR_DUP_COPIES):
            edited = list(words)
            edited[pos] = rng.choice(sorted({w for w in words if w != words[pos]}) or ["edit"])
            clusters[-1].append(len(docs))
            docs.append((lang, " ".join(edited)))
    rows = [(doc_id, lang, text, f"src{rng.randrange(20)}") for doc_id, (lang, text) in enumerate(docs)]
    rng.shuffle(rows)
    extra = sum(len({docs[d][1] for d in c}) - 1 for c in clusters)
    digest = hashlib.sha256(json.dumps(rows).encode()).hexdigest()[:16]
    return CorpusPlan(rows, len({t for _, t in docs}), extra, clusters, digest)


def write_corpus(plan: CorpusPlan, out_dir: str) -> None:
    """Write ``documents.parquet`` (doc_id, text, lang, source, n_chars)."""
    import pandas as pd

    df = pd.DataFrame(
        {
            "doc_id": pd.Series([d for d, _, _, _ in plan.rows], dtype="int64"),
            "text": [t for _, _, t, _ in plan.rows],
            "lang": [lang for _, lang, _, _ in plan.rows],
            "source": [s for _, _, _, s in plan.rows],
        }
    )
    df["n_chars"] = df["text"].str.len().astype("int64")
    os.makedirs(out_dir, exist_ok=True)
    con = _duckdb()
    con.register("t", df)
    con.execute(f"COPY (SELECT * FROM t) TO '{out_dir}/documents.parquet' (FORMAT PARQUET)")
    con.close()


def write_sample(fixture_dir: str, path: str = SAMPLE) -> None:
    """Rebuild the committed sample: the first ``SAMPLE_DOCS`` distinct
    texts, by doc_id, of a fixture ``documents.parquet``."""
    con = _duckdb()
    rows = con.execute(
        f"SELECT text, lang FROM read_parquet('{fixture_dir}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    con.close()
    seen: set[str] = set()
    out = []
    for text, lang in rows:
        if text not in seen and len(out) < SAMPLE_DOCS:
            seen.add(text)
            out.append(json.dumps({"lang": lang, "text": text}, sort_keys=True) + "\n")
    with gzip.GzipFile(path, "wb", compresslevel=9, mtime=0) as f:
        f.write("".join(out).encode())


# --------------------------------------------------------------------------
# Writing in a child process


def materialize(kind: str, seed: int, size: int, out_dir: str) -> str:
    """Write the ``kind`` ("history" or "corpus") parquet inputs in a child
    process, so the benchmark process never loads DuckDB or pandas and its
    peak memory is the engine's. Returns the child's input fingerprint."""
    cmd = [sys.executable, os.path.abspath(__file__), kind, str(seed), str(size), out_dir]
    proc = subprocess.run(cmd, capture_output=True, text=True, check=True)
    return proc.stdout.strip().splitlines()[-1]


def main(argv: list[str]) -> int:
    """python3 gen.py {history|corpus} SEED SIZE OUT_DIR
    python3 gen.py sample FIXTURE_DIR"""
    if argv[:1] == ["sample"]:
        write_sample(argv[1])
        return 0
    kind, seed, size, out_dir = argv[0], int(argv[1]), int(argv[2]), argv[3]
    if kind == "history":
        plan = spotify_days(seed, size)
        write_history(plan.history, out_dir)
        print(plan.fingerprint())
    elif kind == "corpus":
        corpus = corpus_plan(seed, size)
        write_corpus(corpus, out_dir)
        print(corpus.fingerprint)
    else:
        raise SystemExit(main.__doc__)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
