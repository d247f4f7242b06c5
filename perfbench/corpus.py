"""Seeded synthetic corpora and their oracle tables, cached per corpus key.

A corpus is the `synth.doc_plan` mix for (seed, n_docs, profiles,
noise_frac), plus optional quarantine-poison rows. Generation and the
golden oracle (`tests/oracle.py`) are both pure Python per document, so one
process pool does both in the same pass. The result is cached under the work
directory, keyed on the generator inputs and on content hashes of
`synth.py` and `oracle.py`: a change to either makes a new key, never a
stale hit.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing as mp
import os
import re
import shutil
from dataclasses import dataclass

PROFILE_RE = re.compile(r"^[a-z]+://[^/]+/([A-Za-z0-9_-]+)/")
KEEP_CORPORA = 3  # most recent cache entries kept; older ones are deleted


@dataclass(frozen=True)
class CorpusSpec:
    seed: int
    n_docs: int
    profiles: tuple[str, ...]
    noise_frac: float
    n_poison: int = 0


@dataclass(frozen=True)
class Corpus:
    key: str
    path: str  # parquet directory, one file per chunk
    n_docs: int  # rows in the corpus, poison rows included
    expected: dict  # url -> {"profile", "md5"} of extract() (md5 None: no golden output)
    poison_urls: frozenset


def _file_digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def corpus_key(spec: CorpusSpec) -> str:
    from pdf_table_extractor_spark import synth
    from tests import oracle

    payload = json.dumps(
        {
            "seed": spec.seed,
            "n_docs": spec.n_docs,
            "profiles": list(spec.profiles),
            "noise_frac": spec.noise_frac,
            "n_poison": spec.n_poison,
            "synth": _file_digest(synth.__file__),
            "oracle": _file_digest(oracle.__file__),
        },
        sort_keys=True,
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:20]


def _poison_rows(spec: CorpusSpec) -> list[dict]:
    """Rows `validate_pages` must quarantine (no text and no html)."""
    import datetime as dt

    return [
        {
            "url": f"https://host000.example/poison/{spec.seed % 1000:03d}{i:03d}",
            "warc_ts": dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i),
            "html": None,
            "text": None,
            "lang": "pt",
        }
        for i in range(spec.n_poison)
    ]


def _gen_chunk(args) -> tuple[list[dict], dict]:
    """Worker: make the documents of one plan slice and their golden md5s."""
    plan, seed, known = args
    from pdf_table_extractor_spark import synth
    from tests import oracle

    rows, expected = [], {}
    for profile, doc_id in plan:
        doc = synth.make_doc(profile, doc_id, seed)
        rows.append(doc)
        name = PROFILE_RE.match(doc["url"]).group(1)
        if name in known:
            gold = oracle.golden(name, doc["text"], bytes(doc["html"]))
            md5 = hashlib.md5(gold).hexdigest() if gold is not None else None
            expected[doc["url"]] = {"profile": name, "md5": md5}
        else:
            expected[doc["url"]] = {"profile": "", "md5": None}
    return rows, expected


def _write_parquet(rows: list[dict], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)


def ensure_corpus(spec: CorpusSpec, cache_root: str, workers: int) -> Corpus:
    """Return the cached corpus for `spec`, generating it on a miss."""
    from pdf_table_extractor_spark import synth

    key = corpus_key(spec)
    root = os.path.join(cache_root, key)
    done = os.path.join(root, "expected.json")
    if not os.path.exists(done):
        shutil.rmtree(root, ignore_errors=True)
        data = os.path.join(root, "pages")
        os.makedirs(data)
        plan = list(synth.doc_plan(spec.n_docs, list(spec.profiles), spec.noise_frac))
        n_chunks = max(1, 2 * workers)
        step = -(-len(plan) // n_chunks)
        known = frozenset(spec.profiles)
        jobs = [(plan[i : i + step], spec.seed, known) for i in range(0, len(plan), step)]
        expected: dict = {}
        # fork: runs before any JVM or thread exists, and starts no helper process
        with mp.get_context("fork").Pool(workers) as pool:
            for i, (rows, exp) in enumerate(pool.imap(_gen_chunk, jobs)):
                _write_parquet(rows, os.path.join(data, f"part-{i:03d}.parquet"))
                expected.update(exp)
            pool.close()
            pool.join()
        poison = _poison_rows(spec)
        if poison:
            _write_parquet(poison, os.path.join(data, f"part-{len(jobs):03d}.parquet"))
        tmp = done + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"expected": expected, "poison": [r["url"] for r in poison]}, f)
        os.replace(tmp, done)  # the cache entry is complete only once this exists
    os.utime(root)
    _evict(cache_root, keep=KEEP_CORPORA)
    with open(done) as f:
        meta = json.load(f)
    # extract() passes a poison row through like noise; run_job quarantines it
    expected = {**meta["expected"], **{u: {"profile": "", "md5": None} for u in meta["poison"]}}
    return Corpus(
        key=key,
        path=os.path.join(root, "pages"),
        n_docs=len(expected),
        expected=expected,
        poison_urls=frozenset(meta["poison"]),
    )


def _evict(cache_root: str, keep: int) -> None:
    entries = sorted(
        (os.path.join(cache_root, d) for d in os.listdir(cache_root)),
        key=os.path.getmtime,
        reverse=True,
    )
    for stale in entries[keep:]:
        shutil.rmtree(stale, ignore_errors=True)
