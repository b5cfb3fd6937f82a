"""Seeded scan-log feeds in the reference row shape.

One gzipped CSV per (day, feed) with the header ``ts,ip,risk_id,asn,cc``
and production timestamps (``2016-08-05 02:00:06.0+00``). Feed ``f``
carries risk ``f + 1``. Each host belongs to one ASN and each ASN to one
country; ASN popularity and the ASN→country draw follow a Zipf law, and
hosts are re-scanned within a day so the (ip, day, risk, asn, country)
dedup has real work. A share of ASNs and countries is left out of the
dimension tables so stage 2's repair appends rows.

The same seed gives byte-identical files; a finished set is cached under
its seed and reused, so generation is never timed.
"""

from __future__ import annotations

import csv
import datetime
import gzip
import io
import json
import os
import string

import numpy as np

START_DAY = datetime.date(2016, 8, 1)
N_COUNTRIES = 120
N_ASNS = 3000
HOSTS_PER_ASN = 4096
ZIPF_S = 1.1
# mean scans of a host within one (day, feed): the dedup keeps ≈1/2
RESCAN_MEAN = 2.0
MISSING_ASN_SHARE = 0.05
MISSING_COUNTRY_SHARE = 0.05
# every 400th row uses the ISO-T fixture form, so the parse chain's
# fallback formats run too
ISO_EVERY = 400
AMPLIFICATION = {1: 556.9, 2: 28.7, 3: 6.3, 4: 30.8, 5: 9.8}

_HMS = np.array(
    [f"{h:02d}:{m:02d}:{s:02d}" for h in range(24) for m in range(60) for s in range(60)]
)


def _codes() -> list[str]:
    """Two-letter country codes, skipping the stage-2 sentinels T and XY."""
    out = [a + b for a in string.ascii_uppercase for b in string.ascii_uppercase]
    return [c for c in out if c != "XY"][:N_COUNTRIES]


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def generate(out_dir: str, seed: int, days: int, feeds: int, rows_per_file: int,
             threshold: int) -> dict:
    """Write the feeds plus dimension CSVs into ``out_dir``; return the
    input properties (also written to ``props.json``), among them the
    share of groups that stage 1's HAVING ``> threshold`` keeps."""
    rng = np.random.default_rng(seed)
    countries = np.array(_codes())
    asn_numbers = 10_000 + rng.permutation(N_ASNS * 10)[:N_ASNS]
    asn_country = rng.choice(N_COUNTRIES, size=N_ASNS, p=_zipf_weights(N_COUNTRIES, ZIPF_S))
    asn_p = _zipf_weights(N_ASNS, ZIPF_S)

    os.makedirs(out_dir, exist_ok=True)
    feed_files = []
    n_rows = 0
    tuples = []
    for d in range(days):
        day = START_DAY + datetime.timedelta(days=d)
        for f in range(feeds):
            n_obs = max(1, int(rows_per_file / RESCAN_MEAN))
            asn_idx = rng.choice(N_ASNS, size=n_obs, p=asn_p)
            host = rng.integers(0, HOSTS_PER_ASN, size=n_obs)
            reps = 1 + rng.poisson(RESCAN_MEAN - 1.0, size=n_obs)
            asn_idx = np.repeat(asn_idx, reps)
            host = np.repeat(host, reps)
            order = rng.permutation(asn_idx.size)
            asn_idx, host = asn_idx[order], host[order]
            secs = rng.integers(0, 86400, size=asn_idx.size)
            tuples.append(np.stack([np.full(asn_idx.size, d * feeds + f), asn_idx, host], 1))

            asn = asn_numbers[asn_idx]
            ip = [f"{a >> 8 & 255}.{a & 255}.{h >> 8}.{h & 255}" for a, h in zip(asn.tolist(), host.tolist())]
            prod, iso = f"{day.isoformat()} {{}}.0+00", f"{day.isoformat()}T{{}}+00:00"
            ts = [(iso if i % ISO_EVERY == 0 else prod).format(t)
                  for i, t in enumerate(_HMS[secs].tolist())]
            cc = countries[asn_country[asn_idx]]
            path = os.path.join(out_dir, f"scans_{day.isoformat()}_feed{f}.csv.gz")
            # mtime=0 keeps the gzip header, and so the file, seed-determined
            with gzip.GzipFile(path, "wb", compresslevel=1, mtime=0) as gz, \
                    io.TextIOWrapper(gz, newline="") as fh:
                w = csv.writer(fh)
                w.writerow(["ts", "ip", "risk_id", "asn", "cc"])
                w.writerows(zip(ts, ip, [f + 1] * len(ts), asn.tolist(), cc.tolist()))
            feed_files.append(path)
            n_rows += len(ts)

    # dedup tuple ≡ (day·feed, asn, host); group ≡ (day·feed, asn)
    distinct = np.unique(np.concatenate(tuples), axis=0)
    _, group_sizes = np.unique(distinct[:, :2], axis=0, return_counts=True)
    kept_groups = int((group_sizes > threshold).sum())

    seen_asn = np.unique(np.concatenate(tuples)[:, 1])
    n_missing_asn = max(1, int(MISSING_ASN_SHARE * seen_asn.size))
    missing_asn = rng.choice(seen_asn, size=n_missing_asn, replace=False)
    seen_cc = np.unique(asn_country[seen_asn])
    n_missing_cc = max(1, int(MISSING_COUNTRY_SHARE * seen_cc.size))
    missing_cc = set(rng.choice(seen_cc, size=n_missing_cc, replace=False).tolist())

    with open(os.path.join(out_dir, "dim_risk.csv"), "w", newline="") as fh:
        w = csv.writer(fh)
        for r in range(1, feeds + 1):
            w.writerow([r, f"risk-{r}", AMPLIFICATION.get(r, 1.0)])
        w.writerow([100, "total", 0.0])
    with open(os.path.join(out_dir, "dim_country.csv"), "w", newline="") as fh:
        w = csv.writer(fh)
        for i, c in enumerate(countries):
            if i not in missing_cc:
                w.writerow([c, f"country-{c}"])
        w.writerow(["T", "global"])
    skip_asn = set(missing_asn.tolist())
    with open(os.path.join(out_dir, "dim_asn.csv"), "w", newline="") as fh:
        w = csv.writer(fh)
        for i in range(N_ASNS):
            # an ASN whose country is left out of dim_country is left out
            # too, so every kept dim_asn row satisfies fk_country_asn
            if i in skip_asn or asn_country[i] in missing_cc:
                continue
            w.writerow([int(asn_numbers[i]), f"AS{asn_numbers[i]}", countries[asn_country[i]]])

    props = {
        "seed": seed,
        "rows": int(n_rows),
        "files": len(feed_files),
        "days": days,
        "feeds": feeds,
        "distinct_ratio": round(distinct.shape[0] / n_rows, 6),
        "zipf_s": ZIPF_S,
        "having_threshold": threshold,
        "having_kept_share": round(kept_groups / group_sizes.size, 6),
        "groups": int(group_sizes.size),
        "dim_missing_asns": int(n_missing_asn),
        "dim_missing_countries": int(n_missing_cc),
        "gz_bytes": int(sum(os.path.getsize(p) for p in feed_files)),
    }
    with open(os.path.join(out_dir, "props.json"), "w") as fh:
        json.dump(props, fh)
    return props


def cached(cache_root: str, seed: int, threshold: int, **sizes) -> tuple[str, dict]:
    """Return (directory, properties) of the feed set for ``seed`` and
    ``sizes``, generating it once."""
    from harness import build_once

    key = ("scanlog_" + "_".join(f"{k}{v}" for k, v in sorted(sizes.items()))
           + f"_threshold{threshold}_seed{seed}")
    final = build_once(os.path.join(cache_root, key),
                       lambda d: generate(d, seed, threshold=threshold, **sizes))
    with open(os.path.join(final, "props.json")) as fh:
        return final, json.load(fh)
