"""Seeded crawl generator owned by the benchmark.

The benchmark does not call ``linkgraph.io.pages.synthesize_pages``: an edit
to the library's generator must not change the workload. Everything here is
numpy + pyarrow on the driver, so generating inputs runs no Spark job.

Shape of a crawl of ``n`` pages (all draws from ``numpy.random.default_rng``
seeded with the workload seed):

- page ``i`` has url ``https://host{i % hosts}.example/p/{i}`` and
  ``1..MAX_LINKS`` anchors;
- a ``DANGLING_SHARE`` of pages link only to hosts outside the crawl, so
  after the in-crawl semi-join they have no out-edges (PageRank's dangling
  mass);
- every other page sends ``EXTERNAL_SHARE`` of its anchors outside the
  crawl and the rest to in-crawl pages drawn from a power law over a seeded
  permutation of page ids (a few hubs receive most in-links, and repeated
  draws of one hub give parallel links that coalesce to weight > 1);
- no page links to itself.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MAX_LINKS = 12
DANGLING_SHARE = 0.10
EXTERNAL_SHARE = 0.10
PAGES_PER_HOST = 50

_WORDS = np.array(
    "the quick brown fox jumps over lazy dog web page crawl index rank "
    "link graph spark data engine query node edge host".split()
)


class Crawl:
    """One generated crawl: page urls, html, and the true link list.

    ``src``/``dst`` hold every in-crawl anchor as page indices, duplicates
    kept (the engine must coalesce them into weights). ``variant`` draws
    another crawl of the same size from the same seed.
    """

    def __init__(self, n_pages: int, seed: int, variant: int = 0):
        self.entropy = [seed, n_pages, variant]
        rng = np.random.default_rng(self.entropy)
        n = n_pages
        self.n_pages = n
        self.n_hosts = max(1, n // PAGES_PER_HOST)
        k = rng.integers(1, MAX_LINKS + 1, size=n)
        dangling = rng.random(n) < DANGLING_SHARE
        owner = np.repeat(np.arange(n), k)
        external = dangling[owner] | (rng.random(owner.size) < EXTERNAL_SHARE)
        # power law over ranks: r = floor(exp(u ln n)) - 1, rank -> page id
        # through a seeded permutation so hub ids differ between seeds
        perm = rng.permutation(n)
        r = np.minimum(np.floor(np.exp(rng.random(owner.size) * np.log(n))), n) - 1
        target = perm[r.astype(np.int64)]
        target = np.where(target == owner, (target + 1) % n, target)
        self.links_per_page = k
        self.anchor_external = external
        self.anchor_target = target
        inside = ~external
        self.src = owner[inside]
        self.dst = target[inside]

    def url(self, i: int) -> str:
        return f"https://host{i % self.n_hosts}.example/p/{i}"

    def urls(self) -> list[str]:
        return [self.url(i) for i in range(self.n_pages)]

    def html_and_text(self) -> tuple[list[bytes], list[str]]:
        """Html per page (title, a script block, body words, anchors) and
        its visible text."""
        n = self.n_pages
        rng = np.random.default_rng(self.entropy + [1])
        words = _WORDS[rng.integers(0, len(_WORDS), size=(n, 6))]
        bounds = np.concatenate([[0], np.cumsum(self.links_per_page)])
        html, text = [], []
        for i in range(n):
            body = " ".join(words[i])
            labels, anchors = [], []
            for j in range(bounds[i], bounds[i + 1]):
                t = int(self.anchor_target[j])
                href = (
                    f"https://ext{t % 97}.example.org/x/{t}"
                    if self.anchor_external[j]
                    else self.url(t)
                )
                label = f"l{j - bounds[i]}"
                labels.append(label)
                anchors.append(f'<a href="{href}">{label}</a> ')
            html.append(
                (
                    f"<html><head><title>p{i}</title><script>var x={i};</script>"
                    f"</head><body><p>{body}</p>{''.join(anchors)}</body></html>"
                ).encode("utf-8")
            )
            text.append(" ".join([f"p{i}", body, *labels]))
        return html, text

    def write_pages(self, path: str, files: int) -> None:
        """Pages table with the engine's pages schema, split over ``files``
        parquet files so a scan gets one task per file."""
        html, text = self.html_and_text()
        table = pa.table(
            {
                "url": pa.array(self.urls(), pa.string()),
                "warc_ts": pa.array(
                    (1_700_000_000 + np.arange(self.n_pages)) * 1_000_000,
                    pa.timestamp("us", tz="UTC"),
                ),
                "html": pa.array(html, pa.binary()),
                "text": pa.array(text, pa.string()),
                "lang": pa.array(
                    np.where(np.arange(self.n_pages) % 10 == 0, "de", "en"),
                    pa.string(),
                ),
            }
        )
        _write_split(table, path, files)

    def write_edges(self, path: str, files: int) -> None:
        """The in-crawl link list as ``(src, dst)`` page indices, parallel
        links kept."""
        table = pa.table(
            {"src": pa.array(self.src, pa.int64()), "dst": pa.array(self.dst, pa.int64())}
        )
        _write_split(table, path, files)


def _write_split(table: pa.Table, path: str, files: int) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for f in range(files):
        pq.write_table(
            table.slice(f * step, step), os.path.join(path, f"part-{f:03d}.parquet")
        )
