"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same seed
writes byte-identical files, a different seed writes different rows with
the same schemas and row counts. The program under test only ever sees
the files written here — nothing is read from outside the benchmark's
work directory.

- ``write_tables``  — the corpus catalog tables: ``documents`` with
  planted near-duplicates and clustered ``embeddings``, with the column
  names and physical types ``catalog.table`` reads.
- ``write_er_sources`` — ABR bulk-extract XML (main + incremental delta)
  and Common Crawl WET files for the entity-resolution batch, plus the
  ground truth the batch's checks need (planted matches, planted
  invalid rows, the delta's keys).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# Sizes
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Size:
    """Row counts of one input generation (see ``SIZES``)."""
    documents: int
    embeddings: int
    abr_entities: int
    crawl_pages: int


SIZES = {
    # what the benchmark measures
    "bench": Size(documents=500, embeddings=2000, abr_entities=4000,
                  crawl_pages=200),
    # the benchmark's own smoke tests
    "tiny": Size(documents=200, embeddings=200, abr_entities=600,
                 crawl_pages=60),
    # the row counts of the sf0.1 test tables: documents and embeddings
    # as they are; the register as large as `customer` (15,000 named
    # entities), the crawl as large as `supplier` (1,000). For comparing
    # the work mix with "bench"; too slow for the timed runs.
    "sf01": Size(documents=5000, embeddings=2000, abr_entities=15000,
                 crawl_pages=1000),
}


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per (seed, table) so adding a table
    never shifts another table's rows."""
    return np.random.default_rng([seed, *stream.encode()])


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path)
    return os.path.getsize(path)


# ---------------------------------------------------------------------------
# Catalog tables
# ---------------------------------------------------------------------------

_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
# the word vocabulary of the corpus (the same closed vocabulary shape the
# registry's text queries are written against)
_VOCAB = ("a agg batch big column customer data fast filter group hash join "
          "key line merge order part query row scan slow small sort spark "
          "stream table the value vector window").split()
EMB_DIM = 64
EMB_CLUSTERS = 10


def _documents(seed: int, n: int) -> tuple[pa.Table, list[tuple[int, int]]]:
    """Random-vocabulary documents of 10-100 tokens. Every eighth
    original is followed by a planted near-duplicate (its last token
    replaced), so the pair's word-trigram Jaccard is high (about
    (m-1)/(m+1) for m trigrams). Lengths and plant positions depend only
    on the index, so every seed gives the same amount of work. Returns
    the table and the planted (original_id, copy_id) pairs."""
    r = _rng(seed, "documents")
    texts: list[str] = []
    planted: list[tuple[int, int]] = []
    j = 0
    while len(texts) < n:
        toks = list(np.array(_VOCAB)[r.integers(0, len(_VOCAB),
                                               10 + (j * 37) % 91)])
        texts.append(" ".join(toks))
        if j % 8 == 7 and len(texts) < n:
            copy = toks[:-1] + [_VOCAB[(_VOCAB.index(toks[-1]) + 1)
                                       % len(_VOCAB)]]
            planted.append((len(texts) - 1, len(texts)))
            texts.append(" ".join(copy))
        j += 1
    table = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": r.choice(_LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    return table, planted


def _embeddings(seed: int, n: int) -> pa.Table:
    """Unit vectors around ``EMB_CLUSTERS`` random centres (label = the
    centre, clusters of equal size), so an IVF index has real structure
    to prune on."""
    r = _rng(seed, "embeddings")
    centres = r.normal(size=(EMB_CLUSTERS, EMB_DIM))
    labels = r.permutation(np.arange(n) % EMB_CLUSTERS)
    v = centres[labels] + 0.6 * r.normal(size=(n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def write_tables(out_dir: str, seed: int, size: Size) -> dict:
    """Write the ``documents`` and ``embeddings`` catalog tables as
    ``<out_dir>/<name>.parquet``. Returns {"rows": {table: n}, "bytes":
    {table: n}, "planted_dups": [[original_id, copy_id], ...]}."""
    os.makedirs(out_dir, exist_ok=True)
    docs, planted = _documents(seed, size.documents)
    info = {"rows": {}, "bytes": {}, "planted_dups": [list(p)
                                                        for p in planted]}
    for name, t in (("documents", docs),
                    ("embeddings", _embeddings(seed, size.embeddings))):
        info["rows"][name] = t.num_rows
        info["bytes"][name] = _write(t, os.path.join(out_dir,
                                                     f"{name}.parquet"))
    return info


# ---------------------------------------------------------------------------
# Entity-resolution sources: ABR XML + Common Crawl WET
# ---------------------------------------------------------------------------

_ABN_WEIGHTS = (10, 1, 3, 5, 7, 9, 11, 13, 15, 17, 19)
_STATES = ["NSW", "VIC", "QLD", "SA", "WA", "TAS", "NT", "ACT"]
_SUFFIXES = ["PTY LTD", "PTY LIMITED", "HOLDINGS PTY LTD", "GROUP PTY LTD",
             "SERVICES PTY LTD"]
_INDUSTRIES = ["Software", "Banking", "Medical", "Retail", "Construction",
               "Mining", "Manufacturing", "Logistics", "Education", "Legal"]
_ONSETS = "b c d f g h j k l m n p r s t v w z br cr dr gr pl st tr".split()
_NUCLEI = "a e i o u ai ea oo".split()
_CODAS = ["", "n", "r", "s", "l", "x", "nd", "st"]
# words the cleaners treat specially must never be generated as name tokens
_RESERVED = {"PTY", "LTD", "LIMITED", "PROPRIETARY", "AUSTRALIA",
             "AUSTRALIAN", "HOLDINGS", "GROUP", "SERVICES", "CORPORATION",
             "CORP", "INC", "CO", "THE", "AND", "OF", "AS", "TRUSTEE", "ABN",
             "ACN", "NSW", "VIC", "QLD", "SA", "WA", "TAS", "NT", "ACT"}

# Crawl-side name variants against an ABR name of k normalized tokens.
# (abr tokens, crawl extra tokens) -> the cascade band it lands in with
# the jaccard scorer at thresholds 0.75 / 0.60 and the stub LLM scorer:
#   exact  (3, 0): fuzzy 1.0                         -> 'fuzzy'
#   extra  (3, 1): fuzzy 0.75                        -> 'fuzzy'
#   rescue (5, 2): fuzzy 0.714, llm 0.844, final .753 -> 'hybrid'
#   reject (2, 1): fuzzy 0.667, final 0.725          -> dropped
_VARIANTS = {"exact": (3, 0), "extra": (3, 1), "rescue": (5, 2),
             "reject": (2, 1)}


def abn_from(base9: int) -> str:
    """A checksum-valid 11-digit ABN whose last nine digits are ``base9``:
    the two leading digits are solved so the weighted sum (first digit
    minus one) is 0 mod 89 — (d1-1)*10 + d2 spans 0..89, so a solution
    always exists."""
    tail = f"{base9:09d}"
    rest = sum(int(c) * w for c, w in zip(tail, _ABN_WEIGHTS[2:]))
    for lead in range(10, 100):
        d1, d2 = divmod(lead, 10)
        if ((d1 - 1) * 10 + d2 + rest) % 89 == 0:
            return f"{lead}{tail}"
    raise AssertionError("unreachable: every residue mod 89 is covered")


def _words(r: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct pronounceable upper-case words of 4+ letters."""
    out: dict[str, None] = {}
    while len(out) < n:
        m = 2 * (n - len(out)) + 16
        syl = [np.array(_ONSETS)[r.integers(0, len(_ONSETS), m)].astype(object)
               + np.array(_NUCLEI)[r.integers(0, len(_NUCLEI), m)]
               for _ in range(3)]
        three = r.random(m) < 0.5
        words = (syl[0] + syl[1] + np.where(three, syl[2], "")
                 + np.array(_CODAS)[r.integers(0, len(_CODAS), m)])
        for w in words:
            w = w.upper()
            if len(w) >= 4 and w not in _RESERVED:
                out[w] = None
    return list(out)[:n]


def _abr_record(abn: str, name: str, status: str, state: str,
                postcode: str, start: str, individual: bool) -> str:
    addr = (f"<BusinessAddress><AddressDetails><State>{state}</State>"
            f"<Postcode>{postcode}</Postcode></AddressDetails>"
            f"</BusinessAddress>")
    if individual:
        given, family = name.rsplit(" ", 1)
        givens = "".join(f"<GivenName>{g}</GivenName>"
                         for g in given.split(" "))
        entity = (f"<EntityType><EntityTypeInd>IND</EntityTypeInd>"
                  f"</EntityType><LegalEntity><IndividualName>{givens}"
                  f"<FamilyName>{family}</FamilyName></IndividualName>"
                  f"{addr}</LegalEntity>")
    else:
        entity = (f"<EntityType><EntityTypeInd>PRV</EntityTypeInd>"
                  f"<EntityTypeText>Australian Private Company"
                  f"</EntityTypeText></EntityType><MainEntity>"
                  f"<NonIndividualName type=\"MN\"><NonIndividualNameText>"
                  f"{name}</NonIndividualNameText></NonIndividualName>"
                  f"{addr}</MainEntity>")
    return (f"<ABR recordLastUpdatedDate=\"20240101\">"
            f"<ABN status=\"{status}\" ABNStatusFromDate=\"{start}\">{abn}"
            f"</ABN>{entity}</ABR>\n")


def _write_abr(path: str, records: list[str]) -> int:
    with open(path, "w", encoding="utf-8") as f:
        f.write("<Transfer>\n")
        f.writelines(records)
        f.write("</Transfer>\n")
    return os.path.getsize(path)


def _wet_record(url: str, body: str, kind: str = "conversion") -> str:
    return (f"WARC/1.0\r\nWARC-Type: {kind}\r\nWARC-Target-URI: {url}\r\n"
            f"WARC-Date: 2024-01-01T00:00:00Z\r\n"
            f"Content-Length: {len(body)}\r\n\r\n{body}\r\n\r\n")


def write_er_sources(out_dir: str, seed: int, size: Size,
                     n_files: int = 4, delta_share: float = 0.1) -> dict:
    """ABR XML (``abr/part-*.xml``), its incremental batch
    (``abr_delta/part-0.xml``: new state/postcode for ``delta_share`` of
    the keys plus a few new entities) and WET files (``wet/*.warc.wet``).

    Names are distinct by construction — every ABR name is a distinct
    word tuple — so clean's dedup keeps every generated row. Invalid rows
    are planted at known counts (bad-checksum ABNs on the ABR side,
    nameless pages and non-conversion records on the crawl side).
    Returns the ground truth the checks use."""
    r = _rng(seed, "er")
    n_abr, n_cc = size.abr_entities, size.crawl_pages
    # block keys are the first four letters of the first token: a small
    # pool of stems with distinct 4-letter prefixes, each the first token
    # of the same number of ABR names, makes every block hold n_abr /
    # len(stems) rows whatever the seed (4-char blocking on a real
    # register also puts many rows in a block)
    n_stems = max(8, n_abr // 50)
    by_prefix: dict[str, str] = {}
    for w in _words(r, 4 * n_stems):
        by_prefix.setdefault(w[:4], w)
    stems = list(by_prefix.values())[:n_stems]
    if len(stems) < n_stems:
        raise RuntimeError(f"only {len(stems)} distinct block stems")
    tails = _words(r, 3 * n_abr + 3 * n_cc + 64)
    bases = r.choice(10**9, size=n_abr + n_abr // 10 + 16, replace=False)
    abns = [abn_from(int(b)) for b in bases]

    # one entity in 25 is a sole trader (IndividualName, never crawled);
    # company names have 2, 3, 3 or 5 normalized tokens
    entities = []  # (abn, tokens, suffix, state, postcode, start, status)
    ti = 0
    for i in range(n_abr):
        k = (2, 3, 3, 5)[i % 4]
        toks = [stems[i % len(stems)]] + tails[ti:ti + k - 1]
        ti += k - 1
        entities.append((abns[i], toks, _SUFFIXES[i % len(_SUFFIXES)],
                         _STATES[r.integers(0, 8)],
                         f"{r.integers(800, 8000):04d}",
                         f"20{r.integers(0, 24):02d}0{r.integers(1, 10)}15",
                         "Active" if r.random() < 0.85 else "Cancelled"))

    records = []
    individual_every = 25
    for i, (abn, toks, suffix, state, pc, start, status) in \
            enumerate(entities):
        individual = i % individual_every == 7
        name = " ".join(toks) if individual else f"{' '.join(toks)} {suffix}"
        records.append(_abr_record(abn, name, status, state, pc, start,
                                   individual))
    n_bad = max(1, n_abr // 200)
    for j in range(n_bad):
        good = abns[n_abr + j]
        # a last-digit change moves the weighted sum by +19 or -171,
        # neither a multiple of 89: the checksum is broken
        bad = good[:-1] + str((int(good[-1]) + 1) % 10)
        records.append(_abr_record(bad, f"{tails[ti + j]} BADCHECK PTY LTD",
                                   "Active", "NSW", "2000", "20200115",
                                   False))
    ti += n_bad
    order = r.permutation(len(records))
    os.makedirs(os.path.join(out_dir, "abr"), exist_ok=True)
    abr_bytes = 0
    for f in range(n_files):
        part = [records[k] for k in order[f::n_files]]
        abr_bytes += _write_abr(
            os.path.join(out_dir, "abr", f"part-{f}.xml"), part)

    # incremental batch: updates for a share of keys + new entities
    upd = sorted(r.choice(n_abr, size=int(n_abr * delta_share),
                          replace=False).tolist())
    n_new = max(1, n_abr // 100)
    delta, delta_truth = [], {}
    for i in upd:
        abn, toks, suffix, _, _, start, status = entities[i]
        state, pc = _STATES[r.integers(0, 8)], f"{r.integers(800, 8000):04d}"
        individual = i % individual_every == 7
        name = " ".join(toks) if individual else f"{' '.join(toks)} {suffix}"
        delta.append(_abr_record(abn, name, status, state, pc, start,
                                 individual))
        delta_truth[abn] = [state, pc]
    for j in range(n_new):
        abn = abns[n_abr + n_bad + j]
        state, pc = _STATES[r.integers(0, 8)], f"{r.integers(800, 8000):04d}"
        delta.append(_abr_record(abn, f"{tails[ti + j]} NEWCO PTY LTD",
                                 "Active", state, pc, "20240115", False))
        delta_truth[abn] = [state, pc]
    ti += n_new
    os.makedirs(os.path.join(out_dir, "abr_delta"), exist_ok=True)
    delta_bytes = _write_abr(
        os.path.join(out_dir, "abr_delta", "part-0.xml"), delta)

    # crawl pages: one planted variant per picked company entity (see
    # _VARIANTS), and one page in five an unmatched name that still shares
    # its block stem
    pools: dict[int, list[int]] = {}
    for i, e in enumerate(entities):
        if i % individual_every != 7:
            pools.setdefault(len(e[1]), []).append(i)
    for pool in pools.values():
        r.shuffle(pool)
    kinds = list(_VARIANTS) + ["none"]
    pages, planted = [], {}
    for j in range(n_cc):
        kind = kinds[j % len(kinds)]
        want_k, extra = _VARIANTS.get(kind, (2, 2))
        abn, toks, *_ = entities[pools[want_k].pop()]
        base = toks[:1] if kind == "none" else toks
        words = base + tails[ti:ti + extra]
        ti += extra
        url = f"https://www.{'-'.join(words).lower()}.com.au/about"
        title = " ".join(w.capitalize() for w in words)
        body = (f"{title} Pty Ltd\r\nIndustry: "
                f"{_INDUSTRIES[r.integers(0, len(_INDUSTRIES))]}.\r\n"
                f"we serve customers across the region since "
                f"{r.integers(1950, 2024)}")
        pages.append(_wet_record(url, body))
        planted[url] = [kind, abn]
    n_nameless = max(1, n_cc // 50)
    for j in range(n_nameless):
        pages.append(_wet_record(f"https://blank{j}.example.com.au/",
                                 "no company name on this page"))
    for j in range(max(1, n_cc // 50)):
        pages.append(_wet_record(f"https://skip{j}.example.com.au/",
                                 "HTTP/1.1 200 OK", kind="response"))
    order = r.permutation(len(pages))
    os.makedirs(os.path.join(out_dir, "wet"), exist_ok=True)
    wet_bytes = 0
    for f in range(n_files):
        path = os.path.join(out_dir, "wet", f"part-{f}.warc.wet")
        with open(path, "w", encoding="utf-8", newline="") as fh:
            fh.write("WARC/1.0\r\nWARC-Type: warcinfo\r\n\r\n"
                     "software: perfbench\r\n\r\n")
            fh.writelines(pages[k] for k in order[f::n_files])
        wet_bytes += os.path.getsize(path)

    return {
        "abr_valid": n_abr, "delta": delta_truth, "delta_new": n_new,
        "crawl_named": n_cc, "planted": planted,
        "rows": {"abr": len(records), "abr_delta": len(delta),
                 "wet": len(pages)},
        "bytes": {"abr": abr_bytes, "abr_delta": delta_bytes,
                  "wet": wet_bytes},
    }
