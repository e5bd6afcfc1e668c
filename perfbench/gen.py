"""Seeded, reference-shaped Frog / GSC / GA4 CSV exports for the
``vis_querylevel`` workload, with the truths the pipeline's outputs
must reproduce.

GSC is at query x page grain and GA4 at date x page grain. URLs are
dirty: mixed-case hosts, trailing slashes, ``utm_*`` parameters,
fragments, path-only values (resolved against ``SITE_BASE``), crawl
rows repeated under another spelling, GSC rows for pages off the crawl
spine, and GA4 junk rows. CTRs are written as percentages.

Every URL variant the generator writes maps to a canonical URL it
knows, so the expected outputs follow from the generator's own
bookkeeping and never from running the program:

- ``merged`` rows: distinct canonical crawl URLs (duplicate crawl rows
  differ only in their URL spelling);
- ``clicks`` / ``impressions`` / ``sessions`` totals: sums over the
  GSC / GA4 rows whose canonical URL is on the crawl spine (orphan
  rows join nothing);
- ``schema_gaps`` rows: spine URLs with blank structured data;
- ``ctr_debug`` rows: spine URLs with GSC data whose impressions-
  weighted position is within the default evaluation range (20).
  Per-URL positions stay clear of that edge, so summation order cannot
  move a URL across it.
"""

from __future__ import annotations

import os

import numpy as np

HOST = "shop.example.com"
SITE_BASE = f"https://{HOST}"
MAX_EVAL_POSITION = 20.0
SCHEMAS = np.array(["Article", "Product", "", "BlogPosting"])

N_URLS = 2_000
GSC_PER_URL = 20
GA4_PER_URL = 10


def _positions(rng: np.random.Generator, n_urls: int) -> np.ndarray:
    """Per-URL base position in [1, 40], never within 0.5 of the
    evaluation edge (per-row jitter is at most 0.4)."""
    base = np.round(rng.uniform(1.0, 40.0, n_urls), 1)
    near = np.abs(base - MAX_EVAL_POSITION) < 0.5
    base[near] = np.where(base[near] < MAX_EVAL_POSITION, 19.0, 21.0)
    return base


def _write(path: str, header: str, lines) -> None:
    with open(path, "w") as fh:
        fh.write(header)
        fh.writelines(lines)


def generate(seed: int, out_dir: str, tiny: bool = False) -> dict:
    """Write frog.csv, gsc.csv and ga4.csv under ``out_dir``; return the
    paths and expected truths. ``tiny`` shrinks the URL count tenfold
    (for the self-test)."""
    n = N_URLS // 10 if tiny else N_URLS
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    ids = rng.permutation(n) + 1
    paths = [f"/c/{k}" for k in ids]

    # -- crawl spine -----------------------------------------------------
    schema = SCHEMAS[rng.integers(0, len(SCHEMAS), n)]
    depth = rng.integers(1, 7, n)
    inlinks = rng.integers(0, 40, n)
    words = rng.integers(200, 2000, n)
    spell = np.array([HOST, "Shop.Example.com", "SHOP.example.COM"])[rng.integers(0, 3, n)]
    slash = rng.random(n) < 0.5
    # ~10% of URLs crawled twice under another spelling.
    dup = np.flatnonzero(rng.random(n) < 0.10)
    rows = list(range(n)) + dup.tolist()
    urls = [f"https://{h}{p}{'/' if s else ''}" for h, p, s in zip(spell, paths, slash)]
    urls += [f"HTTPS://{HOST.upper()}{paths[i]}/" for i in dup]
    _write(
        os.path.join(out_dir, "frog.csv"),
        "Address,Status Code,Title 1,Meta Description 1,Crawl Depth,Inlinks,Word Count,Structured Data\n",
        (
            f"{u},200,Title {ids[i]},Desc {ids[i]},{depth[i]},{inlinks[i]},{words[i]},{schema[i]}\n"
            for u, i in zip(urls, rows)
        ),
    )

    # -- GSC: query x page -------------------------------------------------
    g_url = np.repeat(np.arange(n), GSC_PER_URL)
    m = len(g_url)
    imp = rng.integers(1, 5000, m)
    clicks = np.floor(imp * rng.uniform(0.0, 0.3, m)).astype(np.int64)
    pos = np.round(_positions(rng, n)[g_url] + rng.uniform(-0.4, 0.4, m), 1)
    ctr = np.round(100.0 * clicks / imp, 2)
    variants = (
        "{p}?utm_source=google&utm_medium=organic",
        "{p}#reviews",
        f"https://{HOST.upper()}" + "{p}/",
        "{p}/?utm_campaign=spring",
    )
    pick = rng.integers(0, len(variants), m)
    g_lines = [
        f"q{j % 997},{variants[pick[j]].format(p=paths[g_url[j]])},"
        f"{clicks[j]},{imp[j]},{ctr[j]}%,{pos[j]}\n"
        for j in range(m)
    ]
    # Pages off the crawl spine: they join nothing.
    n_orphan = m // 20
    g_lines += [f"q{j},/x/{j},{j % 50},{100 + j % 900},1.0%,5.0\n" for j in range(n_orphan)]
    _write(
        os.path.join(out_dir, "gsc.csv"),
        "Query,Page,Clicks,Impressions,CTR,Position\n",
        (g_lines[j] for j in rng.permutation(len(g_lines))),
    )
    wsum = np.bincount(g_url, weights=imp, minlength=n)
    wpos = np.bincount(g_url, weights=pos * imp, minlength=n) / wsum

    # -- GA4: date x page --------------------------------------------------
    a_url = np.repeat(np.arange(n), GA4_PER_URL)
    k = len(a_url)
    sessions = rng.integers(1, 500, k)
    users = np.maximum(sessions - rng.integers(0, 5, k), 0)
    engaged = np.floor(sessions * rng.uniform(0.3, 0.9, k)).astype(np.int64)
    eng_time = np.round(rng.uniform(5.0, 300.0, k), 1)
    a_lines = [
        f"2026-09-{1 + j % GA4_PER_URL:02d},{paths[a_url[j]]}"
        f"{'?utm_medium=email' if j % 3 == 0 else ''},"
        f"{users[j]},{sessions[j]},{engaged[j]},{eng_time[j]}\n"
        for j in range(k)
    ]
    a_lines += ["2026-09-01,(not set),5,7,3,1.0\n", "2026-09-02,(other),2,3,1,2.0\n"]
    _write(
        os.path.join(out_dir, "ga4.csv"),
        "# GA4 export\nDate,Page path and screen class,Active users,Sessions,"
        "Engaged sessions,Average engagement time\n",
        (a_lines[j] for j in rng.permutation(len(a_lines))),
    )

    truths = {
        "merged_rows": n,
        "clicks": int(clicks.sum()),
        "impressions": int(imp.sum()),
        "sessions": int(sessions.sum()),
        "schema_gaps_rows": int((schema == "").sum()),
        "ctr_debug_rows": int((wpos <= MAX_EVAL_POSITION).sum()),
        "input_rows": {"frog": len(rows), "gsc": len(g_lines), "ga4": len(a_lines)},
    }
    return {
        "frog": os.path.join(out_dir, "frog.csv"),
        "gsc": os.path.join(out_dir, "gsc.csv"),
        "ga4": os.path.join(out_dir, "ga4.csv"),
        "truths": truths,
    }

