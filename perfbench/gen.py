"""Seeded input generator for the benchmark workloads.

Everything here is a pure function of the seed and the size arguments:
the same seed gives byte-identical feed files and identical docs and
vectors (``digest`` hashes all of it).  The generator also keeps the
ground truth the benchmark checks the program's answers against, so no
answer is ever derived from the program itself.

Three input families:

* NVD 1.1 yearly feeds 2002-2026 with ramped sizes (year i of 25 holds
  a share proportional to i + 1, like the real corpus), each with a
  ``.meta`` sidecar carrying its real byte size and sha256, plus
  ``modified`` and ``recent`` feeds.  ``refresh_delta`` builds the cron
  delta: ``modified`` re-issues existing CVEs from every year with a
  newer ``lastModifiedDate`` and score, ``recent`` adds new current-year
  CVEs, and part of ``recent`` is also in ``modified`` with a later
  version (last writer wins).
* Documents of 40-120 words over a 5k-word vocabulary, and admission
  batches in which a fixed share are one-word mutations of corpus docs.
* Clustered float embeddings, and query batches in which half the
  queries are tiny perturbations of corpus vectors.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass, field

import numpy as np

YEARS = list(range(2002, 2027))
CURRENT_YEAR = YEARS[-1]
# .meta marks: the backfill corpus, then the cron tick two hours later
BASE_MARK = f"{CURRENT_YEAR}-06-01T03:00:00-04:00"
DELTA_BASE_MARK = f"{CURRENT_YEAR}-06-01T05:00:00-04:00"
REFRESH_MARK = f"{CURRENT_YEAR}-06-01T07:00:00-04:00"
# every base record was last modified before this instant; refreshed
# records after it (NVD 1.1 date format, lexically ordered)
BASE_LMD_CAP = f"{CURRENT_YEAR}-05-31T23:59Z"
REFRESH_DAY = f"{CURRENT_YEAR}-06-01"

N_VENDORS = 400
N_PRODUCTS = 2000
SUMMARY_WORDS = [
    "buffer", "overflow", "remote", "attacker", "crafted", "request",
    "allows", "execute", "arbitrary", "code", "denial", "service",
    "injection", "parameter", "authentication", "bypass", "memory",
    "corruption", "privilege", "escalation", "information", "disclosure",
    "cross-site", "scripting", "via", "unspecified", "vectors", "in",
    "the", "component", "module", "handler", "before", "version",
]


def feed_name(tag) -> str:
    return f"nvdcve-1.1-{tag}"


def _ramped_counts(total: int) -> dict[int, int]:
    w = {y: i + 1 for i, y in enumerate(YEARS)}
    s = sum(w.values())
    return {y: max(1, total * wy // s) for y, wy in w.items()}


@dataclass
class CveTruth:
    """Ground-truth fields of one loaded CVE (what silver must hold)."""
    published: str
    lmd: str
    score: float
    cpes: tuple[str, ...]           # vulnerable cpe23Uris, depth 1


def _date(rng: random.Random, year: int) -> str:
    # the current year's corpus ends before the refresh day
    last_month = 5 if year == CURRENT_YEAR else 12
    return (f"{year}-{rng.randint(1, last_month):02d}"
            f"-{rng.randint(1, 28):02d}"
            f"T{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}Z")


def _score(rng: random.Random) -> float:
    return rng.randint(0, 100) / 10.0


def _record(rng: random.Random, cve_id: str, year: int, published: str,
            lmd: str, score: float) -> tuple[dict, tuple[str, ...]]:
    """One NVD 1.1 CVE item (~1 KB of JSON, the real corpus's mean)."""
    words = [rng.choice(SUMMARY_WORDS) for _ in range(rng.randint(25, 55))]
    refs = [{"url": f"https://example.org/{cve_id.lower()}/{k}",
             "name": f"{cve_id}-{k}", "refsource": "MISC",
             "tags": ["Patch"] if k == 0 else []}
            for k in range(rng.randint(1, 3))]
    matches, vulnerable = [], []
    for _ in range(rng.randint(1, 3)):
        uri = (f"cpe:2.3:a:vend{rng.randrange(N_VENDORS):04d}"
               f":prod{rng.randrange(N_PRODUCTS):04d}"
               f":{rng.randint(0, 9)}.{rng.randint(0, 9)}:*:*:*:*:*:*:*")
        vuln = rng.random() < 0.8
        matches.append({"vulnerable": vuln, "cpe23Uri": uri})
        if vuln:
            vulnerable.append(uri)
    impact = {"baseMetricV2": {"cvssV2": {
        "version": "2.0", "vectorString": "AV:N/AC:L/Au:N/C:P/I:P/A:P",
        "accessVector": "NETWORK", "accessComplexity": "LOW",
        "authentication": "NONE", "confidentialityImpact": "PARTIAL",
        "integrityImpact": "PARTIAL", "availabilityImpact": "PARTIAL",
        "baseScore": score}}}
    if year >= 2016:
        impact["baseMetricV3"] = {"cvssV3": {
            "version": "3.1", "baseScore": score,
            "baseSeverity": "HIGH" if score >= 7 else "MEDIUM",
            "scope": "UNCHANGED"}}
    item = {
        "cve": {
            "CVE_data_meta": {"ID": cve_id},
            "description": {"description_data": [
                {"lang": "en", "value": " ".join(words).capitalize() + "."}]},
            "references": {"reference_data": refs},
        },
        "configurations": {"CVE_data_version": "4.0", "nodes": [
            {"operator": "OR", "cpe_match": matches}]},
        "impact": impact,
        "publishedDate": published,
        "lastModifiedDate": lmd,
    }
    # dedupe: two identical draws are one row of the cve2cpe view
    return item, tuple(dict.fromkeys(vulnerable))


def _feed_bytes(items: list[dict], mark: str) -> bytes:
    """One feed document, one item per line (multiLine JSON)."""
    head = json.dumps({"CVE_data_numberOfCVEs": str(len(items)),
                       "CVE_data_timestamp": mark[:16] + "Z"})[:-1]
    body = ",\n".join(json.dumps(it, separators=(",", ":")) for it in items)
    return (head + ',"CVE_Items":[\n' + body + "\n]}\n").encode()


def _meta_bytes(mark: str, data: bytes) -> bytes:
    return (f"lastModifiedDate:{mark}\r\nsize:{len(data)}\r\n"
            f"zipSize:{len(data) // 8}\r\ngzSize:{len(data) // 8}\r\n"
            f"sha256:{hashlib.sha256(data).hexdigest().upper()}\r\n"
            ).encode()


def _write_feed(landing: str, tag, items: list[dict], mark: str) -> int:
    """Write ``<feed>.json`` and its ``.meta``; return the JSON bytes."""
    data = _feed_bytes(items, mark)
    name = os.path.join(landing, feed_name(tag))
    with open(name + ".json", "wb") as f:
        f.write(data)
    with open(name + ".meta", "wb") as f:
        f.write(_meta_bytes(mark, data))
    return len(data)


@dataclass
class NvdCorpus:
    """A landed backfill corpus and its ground truth."""
    landing: str
    truth: dict[str, CveTruth]
    marks: dict[str, str]            # download_name -> .meta mark
    json_bytes: int
    year_ids: dict[int, list[str]] = field(default_factory=dict)


def write_backfill(landing: str, seed: int, n_cves: int) -> NvdCorpus:
    """25 ramped yearly feeds plus base ``modified``/``recent`` feeds
    (each re-issuing a few current-year records unchanged, as a landed
    mirror holds them between cron ticks)."""
    os.makedirs(landing, exist_ok=True)
    rng = random.Random(f"nvd-backfill-{seed}")
    truth: dict[str, CveTruth] = {}
    marks: dict[str, str] = {}
    year_ids: dict[int, list[str]] = {}
    total = 0
    items_by_id: dict[str, dict] = {}
    for year, n in _ramped_counts(n_cves).items():
        items = []
        seq = 0
        for _ in range(n):
            seq += rng.randint(1, 3)       # real ids have gaps
            cve_id = f"CVE-{year}-{seq:05d}"
            published = _date(rng, year)
            lmd = max(published, _date(rng, rng.randint(year, CURRENT_YEAR)))
            lmd = min(lmd, BASE_LMD_CAP)
            score = _score(rng)
            item, cpes = _record(rng, cve_id, year, published, lmd, score)
            items.append(item)
            items_by_id[cve_id] = item
            truth[cve_id] = CveTruth(published, lmd, score, cpes)
        year_ids[year] = [it["cve"]["CVE_data_meta"]["ID"] for it in items]
        total += _write_feed(landing, year, items, BASE_MARK)
        marks[feed_name(year)] = BASE_MARK
    tail = [items_by_id[i] for i in year_ids[CURRENT_YEAR][-20:]]
    for tag in ("modified", "recent"):
        total += _write_feed(landing, tag, tail, DELTA_BASE_MARK)
        marks[feed_name(tag)] = DELTA_BASE_MARK
    return NvdCorpus(landing, truth, marks, total, year_ids)


@dataclass
class RefreshDelta:
    """The cron delta's files and the state it must leave behind."""
    files: dict[str, bytes]          # file name -> bytes, for landing
    truth: dict[str, CveTruth]       # post-refresh ground truth
    marks: dict[str, str]
    updated: list[str]               # existing CVEs re-issued newer
    added: list[str]                 # new current-year CVEs
    json_bytes: int


def refresh_delta(corpus: NvdCorpus, seed: int, n_modified: int,
                  n_recent: int) -> RefreshDelta:
    """``modified``: ``n_modified`` existing CVEs drawn from every year
    (proportional to year size, at least one each) with a newer
    ``lastModifiedDate`` and a new score, plus half the new CVEs at a
    later version than ``recent`` carries.  ``recent``: ``n_recent``
    new current-year CVEs."""
    rng = random.Random(f"nvd-refresh-{seed}")
    truth = dict(corpus.truth)
    n_all = len(corpus.truth)
    updated: list[str] = []
    for year in YEARS:
        ids = corpus.year_ids[year]
        k = max(1, round(n_modified * len(ids) / n_all))
        updated.extend(rng.sample(ids, min(k, len(ids))))

    def lmd_at(hour: int) -> str:
        return f"{REFRESH_DAY}T{hour:02d}:{rng.randint(0, 59):02d}Z"

    modified_items, recent_items = [], []
    for cve_id in updated:
        old = corpus.truth[cve_id]
        year = int(cve_id[4:8])
        score = old.score
        while score == old.score:
            score = _score(rng)
        lmd = lmd_at(rng.randint(0, 3))
        item, cpes = _record(rng, cve_id, year, old.published, lmd, score)
        modified_items.append(item)
        truth[cve_id] = CveTruth(old.published, lmd, score, cpes)
    last_seq = int(corpus.year_ids[CURRENT_YEAR][-1][9:])
    added = []
    for j in range(n_recent):
        cve_id = f"CVE-{CURRENT_YEAR}-{last_seq + 1 + j:05d}"
        published = lmd_at(rng.randint(0, 3))
        score = _score(rng)
        item, cpes = _record(rng, cve_id, CURRENT_YEAR, published,
                             published, score)
        recent_items.append(item)
        truth[cve_id] = CveTruth(published, published, score, cpes)
        added.append(cve_id)
        if j % 2 == 0:       # re-issued in modified, later: it must win
            score2 = _score(rng)
            lmd2 = lmd_at(4)
            item2, cpes2 = _record(rng, cve_id, CURRENT_YEAR, published,
                                   lmd2, score2)
            modified_items.append(item2)
            truth[cve_id] = CveTruth(published, lmd2, score2, cpes2)
    files: dict[str, bytes] = {}
    marks = dict(corpus.marks)
    for tag, items in (("modified", modified_items),
                       ("recent", recent_items)):
        data = _feed_bytes(items, REFRESH_MARK)
        files[feed_name(tag) + ".json"] = data
        files[feed_name(tag) + ".meta"] = _meta_bytes(REFRESH_MARK, data)
        marks[feed_name(tag)] = REFRESH_MARK
    return RefreshDelta(files, truth, marks, updated, added,
                        sum(len(v) for k, v in files.items()
                            if k.endswith(".json")))


# ---------------------------------------------------------------- reads

@dataclass
class Read:
    """One reader call: the query_layer function, its arguments, and
    the answer computed from the generator's truth."""
    fn: str
    args: tuple
    expect: object


def reader_mix(truth: dict[str, CveTruth], marks: dict[str, str],
               seed: int, n: int) -> list[Read]:
    """Two in three calls are point lookups (so the median read is one),
    the rest rotate through the other five readers.  Arguments are
    chosen so answers are small."""
    rng = random.Random(f"nvd-reads-{seed}")
    ids = sorted(truth)
    by_year: dict[int, list[str]] = {}
    for i in ids:
        by_year.setdefault(int(truth[i].published[:4]), []).append(i)
    reads: list[Read] = []
    others = ["cpe_search", "cves_published_between",
              "cves_with_min_score", "cve_tally", "latest_feed_state"]
    for k in range(n):
        fn = "cve_by_id" if k % 3 else others[(k // 3) % len(others)]
        if fn == "cve_by_id":
            cid = rng.choice(ids)
            t = truth[cid]
            reads.append(Read(fn, (cid,), (cid, t.lmd, t.score)))
        elif fn == "cpe_search":
            prod = f"prod{rng.randrange(N_PRODUCTS):04d}"
            want = sorted((i, u) for i in ids for u in truth[i].cpes
                          if f":{prod}:" in u)
            reads.append(Read(fn, (prod,), want))
        elif fn == "cves_published_between":
            year = rng.choice(sorted(by_year))
            month = rng.randint(1, 12)
            start = f"{year}-{month:02d}-{rng.randint(1, 20):02d}"
            end = f"{year}-{month:02d}-{int(start[-2:]) + 3:02d}"
            want = sorted(i for i in by_year[year]
                          if start <= truth[i].published < end)
            reads.append(Read(fn, (start, end), want))
        elif fn == "cves_with_min_score":
            floor = rng.choice([9.6, 9.7, 9.8, 9.9, 10.0])
            want = sorted(i for i in ids if truth[i].score >= floor)
            reads.append(Read(fn, (floor,), want))
        elif fn == "cve_tally":
            reads.append(Read(fn, (), len(ids)))
        else:
            reads.append(Read(fn, (), dict(marks)))
    return reads


# ----------------------------------------------------------- documents

def vocabulary(n: int = 5000) -> list[str]:
    """Fixed pseudo-words (no seed: the vocabulary is part of the
    workload's definition, not of its randomness)."""
    syl = ["ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "de", "va",
           "zu", "be", "fo", "gi", "hu", "ja"]
    out = []
    for i in range(n):
        w, x = "", i
        for _ in range(4):
            w += syl[x % len(syl)]
            x //= len(syl)
        out.append(w + str(i % 7))
    return out


def _doc(rng: random.Random, vocab: list[str]) -> list[str]:
    return [rng.choice(vocab) for _ in range(rng.randint(40, 120))]


def corpus_docs(seed: int, n: int) -> list[tuple[int, str]]:
    rng = random.Random(f"docs-{seed}")
    vocab = vocabulary()
    return [(i, " ".join(_doc(rng, vocab))) for i in range(n)]


@dataclass
class AdmitBatch:
    docs: list[tuple[int, str]]
    planted: set[tuple[int, int]]    # (new_id, corpus source id)


def admit_batch(seed: int, step: int, corpus: list[tuple[int, str]],
                size: int, dup_share: float) -> AdmitBatch:
    """``size`` new docs; ``dup_share`` of them replace one word of a
    distinct corpus doc with a different word."""
    rng = random.Random(f"admit-{seed}-{step}")
    vocab = vocabulary()
    base = len(corpus) + (step + 1) * 1_000_000
    n_dup = int(size * dup_share)
    sources = rng.sample(range(len(corpus)), n_dup)
    docs, planted = [], set()
    for j in range(size):
        new_id = base + j
        if j < n_dup:
            src = sources[j]
            words = corpus[src][1].split(" ")
            pos = rng.randrange(len(words))
            w = words[pos]
            while w == words[pos]:
                w = rng.choice(vocab)
            words[pos] = w
            docs.append((new_id, " ".join(words)))
            planted.add((new_id, src))
        else:
            docs.append((new_id, " ".join(_doc(rng, vocab))))
    rng.shuffle(docs)
    return AdmitBatch(docs, planted)


# ----------------------------------------------------------- embeddings

def corpus_vectors(seed: int, n: int, dim: int,
                   clusters: int = 64) -> np.ndarray:
    """``n`` x ``dim`` float32 vectors around ``clusters`` centres."""
    rng = np.random.default_rng([seed, 17])
    centres = rng.standard_normal((clusters, dim))
    which = rng.integers(0, clusters, n)
    return (centres[which] + 0.5 * rng.standard_normal((n, dim))
            ).astype(np.float32)


def query_vectors(seed: int, step: int, corpus: np.ndarray, n: int,
                  planted_share: float = 0.5
                  ) -> tuple[np.ndarray, dict[int, int]]:
    """``n`` queries; the first ``planted_share`` are corpus vectors
    moved by 0.1% of their norm (their top-1 must be the source), the
    rest fresh draws.  Returns (queries, {query row: source id})."""
    rng = np.random.default_rng([seed, 29, step])
    n_planted = int(n * planted_share)
    src = rng.choice(len(corpus), n_planted, replace=False)
    dim = corpus.shape[1]
    near = corpus[src].astype(np.float64)
    near += (1e-3 * np.linalg.norm(near, axis=1, keepdims=True)
             * rng.standard_normal((n_planted, dim)) / np.sqrt(dim))
    fresh = rng.standard_normal((n - n_planted, dim)) * 1.1
    q = np.vstack([near, fresh]).astype(np.float32)
    return q, {i: int(s) for i, s in enumerate(src)}


def digest(*parts) -> str:
    """sha256 over generated inputs: files (by path), arrays, and any
    JSON-able values — the determinism witness."""
    h = hashlib.sha256()
    for p in parts:
        if isinstance(p, np.ndarray):
            h.update(p.tobytes())
        elif isinstance(p, str) and os.path.isdir(p):
            for name in sorted(os.listdir(p)):
                h.update(name.encode())
                with open(os.path.join(p, name), "rb") as f:
                    h.update(f.read())
        else:
            h.update(json.dumps(p, sort_keys=True, default=repr).encode())
    return h.hexdigest()
