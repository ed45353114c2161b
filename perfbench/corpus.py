"""The `extract` workload's corpus and its pinned golden digests.

Pages come from ``sources.fixtures.build_page`` (Zipf(1.2) hosts, ~2.6 KB
pages).  The pool is ``POOL_PER_SEED`` pages of the fixtures' default seed
followed by as many pages of a held-out seed, on disjoint page indices so
urls stay unique.  A run's corpus is a ``--seed``-chosen sample of the pool,
so every url it extracts has a pinned reference.

``golden/extract_digests.tsv`` holds, per pool page, a digest of its url
and html and of the text the reference extractor produced for it at the
commit that pinned the file.  The check therefore does not trust the code
under test: a change to the page generator or to extraction semantics shows
up as differing urls.  Re-pin only for an intended semantic change:

    python3 perfbench/corpus.py --pin
"""

from __future__ import annotations

import hashlib
import os
import random

FIXTURE_SEEDS = (42, 7331)      # the fixtures' default seed, a held-out one
POOL_PER_SEED = 6000
CORPUS_DOCS = 10000
DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "golden", "extract_digests.tsv")


def digest(data: bytes) -> str:
    return hashlib.blake2b(data, digest_size=6).hexdigest()


def pool_page(i: int) -> tuple[str, str]:
    """(url, html) of pool page ``i``."""
    from ocr_hardsubx_spark.sources.fixtures import build_page

    url, html, _family = build_page(i, seed=FIXTURE_SEEDS[i // POOL_PER_SEED])
    return url, html


def sample(seed: int, n: int = CORPUS_DOCS) -> list[int]:
    return sorted(random.Random(seed).sample(
        range(POOL_PER_SEED * len(FIXTURE_SEEDS)), n))


def page_digest(url: str, html: bytes) -> str:
    return digest(url.encode("utf-8") + b"\0" + html)


def load_digests() -> dict[int, tuple[str, str]]:
    """pool index -> (page digest, golden-text digest)."""
    out = {}
    with open(DIGESTS) as f:
        for line in f:
            if not line.startswith("#"):
                i, page, text = line.rstrip("\n").split("\t")
                out[int(i)] = (page, text)
    return out


def write_corpus(path: str, idx: list[int]) -> tuple[list[int], list[str]]:
    """Write the pages as parquet hive-partitioned by ``warc_dt``, the
    layout the extraction job reads.  Returns (pool indices whose url or
    html differs from the pinned digests, urls in ``idx`` order)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.dataset as ds
    from ocr_hardsubx_spark.sources.fixtures import EPOCH

    pinned = load_digests()
    urls, htmls, stale = [], [], []
    for i in idx:
        url, html = pool_page(i)
        data = html.encode("utf-8")
        if pinned[i][0] != page_digest(url, data):
            stale.append(i)
        urls.append(url)
        htmls.append(data)
    # same timestamp stride as the fixtures: ~30 daily partitions
    ts = [EPOCH + dt.timedelta(seconds=(3607 * i) % (30 * 86400))
          for i in idx]
    table = pa.table({
        "url": urls,
        "warc_ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
        "html": pa.array(htmls, type=pa.binary()),
        "lang": [("en", "de", "fr", "es")[i % 4] for i in idx],
        "warc_dt": pa.array([t.date() for t in ts]),
    })
    ds.write_dataset(
        table, path, format="parquet",
        partitioning=ds.partitioning(
            pa.schema([("warc_dt", pa.date32())]), flavor="hive"),
        existing_data_behavior="delete_matching",
        max_rows_per_file=5000, max_rows_per_group=1000)
    return stale, urls


def pin() -> None:
    """Regenerate the digests file with the reference extractor."""
    from ocr_hardsubx_spark.refimpl import extract_document

    os.makedirs(os.path.dirname(DIGESTS), exist_ok=True)
    tmp = DIGESTS + ".tmp"
    with open(tmp, "w") as f:
        f.write("# pool index, url+html digest, golden text digest "
                f"(seeds {FIXTURE_SEEDS}, {POOL_PER_SEED} pages each)\n")
        for i in range(POOL_PER_SEED * len(FIXTURE_SEEDS)):
            url, html = pool_page(i)
            text = extract_document(html)["extracted_text"]
            f.write(f"{i}\t{page_digest(url, html.encode('utf-8'))}\t"
                    f"{digest(text.encode('utf-8'))}\n")
    os.replace(tmp, DIGESTS)


if __name__ == "__main__":
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    if sys.argv[1:] != ["--pin"]:
        sys.exit("usage: python3 perfbench/corpus.py --pin")
    pin()
