"""Seeded input generators of the benchmark.

The program under test never sees these generators, only the parquet
tables they write, so a change to the program cannot change a workload.
The same seed always writes the same rows.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Monday 2025-01-06 00:00 UTC; the crawl spans four whole weeks of hours.
START_EPOCH = 1736121600
SPAN_HOURS = 24 * 28
N_HOSTS = 1000
# Day index of the crawl on which host3's spikes land.
SPIKE_DAY = 17

VOCAB = np.array([
    "data", "page", "crawl", "web", "text", "host", "value", "table", "row",
    "spark", "query", "scan", "join", "agg", "filter", "shard", "batch",
    "time", "series", "bucket", "rollup", "tier", "gap", "fill", "point",
    "metric", "score", "flag", "site", "group", "window", "frame", "hash"])
LANGS = ["en", "de", "fr", "es", "pt", "it", "nl", "pl"]
TLDS = ["com", "org", "net", "de", "fr", "io"]
FLAT_BODY = "constant body of host zero for the repeated-value check"


def host_name(i):
    return f"host{i}.{TLDS[i % len(TLDS)]}"


def _escape(s):
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def crawl_pages(seed, n_pages):
    """Common-Crawl-shaped pages: url, warc_ts, html, text, lang.

    Hosts are log-uniform, so a few hosts are hot. Four hosts carry
    injected anomalies: host0 has one constant body (a flat, repeated
    text_length series), host1 zig-zags with hour parity, host2 has a
    shifted mean and host3 has huge pages on one day (a spike). `html`
    wraps `text` in the page template the program's extractor must invert
    byte for byte.
    """
    rng = np.random.default_rng([seed, 1])
    ids = np.arange(n_pages)
    host = (np.floor(N_HOSTS ** rng.random(n_pages)) - 1).astype(np.int64)
    hour = rng.integers(0, SPAN_HOURS, n_pages)
    n_words = 10 + rng.integers(0, 60, n_pages)
    n_words = np.where(host == 1, np.where(hour % 2 == 0, 5, 120), n_words)
    n_words = np.where(host == 2, 220 + rng.integers(0, 40, n_pages), n_words)
    spike = (host == 3) & (hour // 24 == SPIKE_DAY) & (rng.random(n_pages) < 0.25)
    n_words = np.where(host == 3, np.where(spike, 2000, 20 + rng.integers(0, 40, n_pages)),
                       n_words)
    n_words = np.where(host == 0, 0, n_words)
    words = VOCAB[rng.integers(0, len(VOCAB), int(n_words.sum()))].tolist()
    other_lang = rng.random(n_pages) < 0.2
    lang_pick = rng.integers(0, len(LANGS), n_pages)

    names = [host_name(h) for h in range(N_HOSTS)]
    texts, htmls, urls, langs = [], [], [], []
    at = 0
    for i, h, k in zip(ids.tolist(), host.tolist(), n_words.tolist()):
        name = names[h]
        if h == 0:
            text = FLAT_BODY
        else:
            text = f"page {i} of {name} : " + " ".join(words[at:at + k])
            at += k
        texts.append(text)
        htmls.append(("<html><head><title>" + _escape(f"doc {i}") + "</title></head><body><p>"
                      + _escape(text) + "</p></body></html>").encode("utf-8"))
        urls.append(f"https://{name}/p/{i}")
    langs = np.where(other_lang, lang_pick, host % len(LANGS))
    ts = (START_EPOCH + hour * 3600) * 1_000_000
    return pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "html": pa.array(htmls, pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[x] for x in langs.tolist()], pa.string()),
    }), hour


def _poisson(rng, lam):
    return int(rng.poisson(lam))


def study(seed, n_subjects, n_params):
    """A clinical-shaped study: regions -> countries ~Pois(3) -> sites
    ~Pois(4) -> subjects, per-subject timepoints ~Pois(20), results
    ~N(level ~ N(30,5), sd ~ U(1,10)), 30% missing at random. The subject
    total is fixed at `n_subjects`, split over the sites in proportion to
    ~Pois(5) weights, so every seed costs about the same.
    """
    rng = np.random.default_rng([seed, 2])
    letters = [chr(ord("A") + i) for i in range(26)]
    sites = []
    for r in range(3):
        for c in range(max(1, _poisson(rng, 3))):
            country = letters[r] + letters[c % 26]
            for s in range(max(1, _poisson(rng, 4))):
                sites.append((country + letters[s % 26], country, letters[r]))
    if len(sites) > n_subjects:
        raise ValueError(f"{n_subjects} subjects cannot fill {len(sites)} sites")
    weights = np.maximum(1, rng.poisson(5, len(sites))).astype(float)
    share = weights * n_subjects / weights.sum()
    counts = np.maximum(1, np.floor(share)).astype(int)
    by_remainder = np.argsort(-(share - np.floor(share)), kind="stable")
    k = 0
    while counts.sum() < n_subjects:
        counts[by_remainder[k % len(counts)]] += 1
        k += 1
    while counts.sum() > n_subjects:
        counts[int(np.argmax(counts))] -= 1

    subj = [site for site, n in zip(sites, counts.tolist()) for _ in range(n)]
    subjects = pa.table({
        "subject_id": [str(i + 1) for i in range(len(subj))],
        "site": [s[0] for s in subj],
        "country": [s[1] for s in subj],
        "region": [s[2] for s in subj],
    })
    tp_names = [letters[i] + letters[j] for i in range(26) for j in range(i + 1, 26)]
    tp_count = np.maximum(2, rng.poisson(20, len(subj)))
    cols = {"subject_id": [], "parameter_id": [], "timepoint_1_name": [],
            "timepoint_rank": [], "result": []}
    for p in range(1, n_params + 1):
        level = rng.normal(30, 5, len(subj))
        sd = rng.uniform(1, 10, len(subj))
        for i, n in enumerate(tp_count.tolist()):
            missing = rng.random(n) < 0.3
            values = rng.normal(level[i], sd[i], n)
            cols["subject_id"] += [str(i + 1)] * n
            cols["parameter_id"] += [f"param{p}"] * n
            cols["timepoint_1_name"] += tp_names[:n]
            cols["timepoint_rank"] += [float(r) for r in range(1, n + 1)]
            cols["result"] += [None if m else float(v) for m, v in zip(missing, values)]
    rows = len(cols["subject_id"])
    data = pa.table({
        "subject_id": pa.array(cols["subject_id"], pa.string()),
        "parameter_id": pa.array(cols["parameter_id"], pa.string()),
        "timepoint_1_name": pa.array(cols["timepoint_1_name"], pa.string()),
        "timepoint_2_name": pa.nulls(rows, pa.string()),
        "timepoint_rank": pa.array(cols["timepoint_rank"], pa.float64()),
        "result": pa.array(cols["result"], pa.float64()),
        "baseline": pa.nulls(rows, pa.float64()),
    })
    nulls = lambda t: pa.nulls(n_params, t)
    parameters = pa.table({
        "parameter_id": [f"param{p}" for p in range(1, n_params + 1)],
        "parameter_name": [f"Parameter {p}" for p in range(1, n_params + 1)],
        "parameter_category_1": nulls(pa.string()),
        "parameter_category_2": nulls(pa.string()),
        "parameter_category_3": nulls(pa.string()),
        "time_point_count_min": nulls(pa.float64()),
        "subject_count_min": nulls(pa.float64()),
        "max_share_missing": nulls(pa.float64()),
        "generate_change_from_baseline": nulls(pa.bool_()),
        "timeseries_features_to_calculate": nulls(pa.string()),
        "use_only_custom_timeseries": nulls(pa.bool_()),
    })
    return {"subjects": subjects, "parameters": parameters, "data": data}


# Input sizes: kept small so that one run, cold pass and warm-up included,
# takes under a minute on four cores.
ROLLUP_PAGES = 40000
STUDY_SUBJECTS = 222
STUDY_PARAMS = 2


def materialise(workload, seed, dir):
    """Writes the workload's input for `seed` under `dir` (replaced).

    The crawl pages are partitioned by day, so the tier store the traced
    rollup_crawl run also times can prune its scans by day.
    """
    shutil.rmtree(dir, ignore_errors=True)
    if workload == "rollup_crawl":
        pages, hour = crawl_pages(seed, ROLLUP_PAGES)
        day = hour // 24
        for d in range(SPAN_HOURS // 24):
            stamp = np.datetime64(START_EPOCH + d * 86400, "s").astype("datetime64[D]")
            os.makedirs(os.path.join(dir, f"day={stamp}"))
            pq.write_table(pages.filter(pa.array(day == d)),
                           os.path.join(dir, f"day={stamp}", "part-00000.parquet"))
    elif workload == "ctas_study":
        for name, table in study(seed, STUDY_SUBJECTS, STUDY_PARAMS).items():
            os.makedirs(os.path.join(dir, name))
            pq.write_table(table, os.path.join(dir, name, "part-00000.parquet"))
    else:
        raise ValueError(f"unknown workload {workload}")
