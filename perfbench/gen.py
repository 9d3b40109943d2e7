"""Seeded input generators for the two benchmark workloads.

Each generator writes one workload's inputs into a directory and returns
a summary of their size. The same seed always gives the same files. Shapes
follow the repository's sf0.1 test tables (`part`, `documents`) so graft's
own DuckDB oracles replay over them unchanged; the sizes are smaller so
that a run fits the benchmark's time budget (see BENCHMARK.json).
"""
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- etl_backfill
ETL_PRODUCTS = 2000
# one date per pass; a run uses as many as its passes need
ETL_DATES = [f"2024-03-{d:02d}" for d in range(10, 24)]
ETL_LEAVES = range(10, 50)
ETL_SHARES = {
    "sold_out": 0.05,      # absent from a date's crawl
    "reprice": 0.20,       # new price that date
    "twice": 0.30,         # an earlier, superseded snapshot the same day
    "unparseable": 0.01,   # winner's price is text: the null gate drops it
    "trend_missing": 0.20,  # keyword absent from a date's trends CSV
}
# one date in every three fails its fx fetch and takes the fallback rate;
# the seed picks which
FALLBACK_R100 = 2540000  # FxRates.FallbackRate (25400.0) in cents


def _leaf_path(leaf):
    if leaf % 3 == 0:
        return str(leaf)
    if leaf % 3 == 1:
        return f"{leaf % 7} > {leaf}"
    return f"{leaf % 7} > {leaf % 11 + 100} > {leaf}"


def _snapshot(pk, leaf, price, orig, disc, date, late, price_text=None):
    unit = " VND" if late else " đ"
    return {
        "product_id": str(pk), "sku": f"SKU-{pk}-{int(late)}",
        "name": f"Product {pk}",
        "price": price_text or f"{price}.000{unit}",
        "original_price": f"{orig}.000 VND", "discount_rate": f"-{disc}%",
        "quantity_sold": f"Đã bán {pk % 500}" + ("k" if late else ""),
        "rating": f"{pk % 4 + 1}.{pk % 10}", "review_count": str(pk % 1000),
        "brand": f"Brand {pk % 50}", "seller": f"Seller {pk % 30}",
        "seller_id": str(pk % 30), "seller_logo": f"http://t/s{pk % 30}.png",
        "category_name": f"slug-{leaf}", "thumbnail_url": f"http://t/{pk}.jpg",
        "product_url": f"https://tiki.vn/p/{pk}",
        "category_path": _leaf_path(leaf),
        "_category_url": f"https://tiki.vn/slug-{leaf}/c{leaf}",
        "badges": ["tiki_now", "freeship"] if pk % 2 == 0 else ["freeship"],
        "_extracted_at": f"{date}T{'16:30' if late else '08:00'}:00.000Z",
    }


def gen_etl(seed, out):
    rng = random.Random(seed)
    s = ETL_SHARES
    products = [(pk, rng.choice(ETL_LEAVES), rng.randrange(150, 950),
                 rng.randrange(250, 950), rng.randrange(0, 80))
                for pk in range(ETL_PRODUCTS)]
    fx_phase = rng.randrange(3)
    truth, days, raw_rows, raw_bytes = [], [], 0, 0
    for di, date in enumerate(ETL_DATES):
        day_dir = os.path.join(out, "raw", f"snapshot_date={date}")
        os.makedirs(day_dir)
        lines = []
        for i, (pk, leaf, price, orig, disc) in enumerate(products):
            if rng.random() < s["sold_out"]:
                continue
            if rng.random() < s["reprice"]:
                price = rng.randrange(150, 950)
                products[i] = (pk, leaf, price, orig, disc)
            if rng.random() < s["twice"]:
                lines.append(_snapshot(pk, leaf, rng.randrange(150, 950),
                                       rng.randrange(250, 950),
                                       rng.randrange(0, 80), date, late=False))
            if rng.random() < s["unparseable"]:
                lines.append(_snapshot(pk, leaf, price, orig, disc, date, True,
                                       price_text="khuyến mãi"))
                continue
            lines.append(_snapshot(pk, leaf, price, orig, disc, date, late=True))
            truth.append((date, pk, leaf, price * 1000, orig * 1000, disc))
        rng.shuffle(lines)
        body = "".join(json.dumps(r, ensure_ascii=False) + "\n" for r in lines)
        with open(os.path.join(day_dir, "part-00000.json"), "w", encoding="utf-8") as f:
            f.write(body)
        raw_rows += len(lines)
        raw_bytes += len(body.encode("utf-8"))
        fx = None if di % 3 == fx_phase else rng.randrange(2400000, 2600000, 25)
        days.append((date, fx))

    os.makedirs(os.path.join(out, "trends"))
    trend_rows = []
    for date, _ in days:
        present = [l for l in ETL_LEAVES if rng.random() >= s["trend_missing"]]
        scores = {l: rng.randrange(0, 100) for l in present}
        header = ["date"] + [f"kw-{l}" for l in present] + ["isPartial"]
        cells = [date] + ["<1" if scores[l] == 0 else str(scores[l]) for l in present] + ["False"]
        with open(os.path.join(out, "trends", f"{date}.csv"), "w") as f:
            f.write(",".join(header) + "\n" + ",".join(cells))
        trend_rows += [(date, f"kw-{l}", scores[l]) for l in present]

    keywords = [(c, f"kw-{c}", rng.random() < 0.75) for c in ETL_LEAVES]
    pq.write_table(pa.table({
        "tiki_category_id": pa.array([k[0] for k in keywords], pa.int64()),
        "trend_keyword": [k[1] for k in keywords],
        "is_active": [k[2] for k in keywords]}), os.path.join(out, "keywords.parquet"))
    with open(os.path.join(out, "days.csv"), "w") as f:
        f.write("".join(f"{d},{'' if r is None else r / 100}\n" for d, r in days))

    # ground truth for the DuckDB replay (never read by the program)
    truth_dir = os.path.join(out, "truth")
    os.makedirs(truth_dir)
    cols = list(zip(*truth))
    pq.write_table(pa.table({
        "date": pa.array(cols[0]).cast(pa.date32()), "pk": pa.array(cols[1], pa.int64()),
        "leaf": pa.array(cols[2], pa.int64()), "current_price": pa.array(cols[3], pa.int64()),
        "original_price": pa.array(cols[4], pa.int64()),
        "discount_rate": pa.array(cols[5], pa.int64())}), os.path.join(truth_dir, "snapshots.parquet"))
    pq.write_table(pa.table({
        "date": pa.array([d for d, _ in days]).cast(pa.date32()),
        "r100": pa.array([FALLBACK_R100 if r is None else r for d, r in days], pa.int64())}),
        os.path.join(truth_dir, "fx.parquet"))
    pq.write_table(pa.table({
        "date": pa.array([t[0] for t in trend_rows]).cast(pa.date32()),
        "keyword": [t[1] for t in trend_rows],
        "score": pa.array([t[2] for t in trend_rows], pa.int64())}),
        os.path.join(truth_dir, "trends.parquet"))
    n = len(ETL_DATES)
    return {"products": ETL_PRODUCTS, "dates": n, "raw_rows_per_date": raw_rows / n,
            "raw_bytes_per_date": raw_bytes / n,
            "fallback_dates": sum(r is None for _, r in days),
            "mart_rows": len(truth),
            "input_rows": (raw_rows + len(trend_rows) + len(days)) / n}


# ---------------------------------------------------------- media_incremental
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
DOC_SOURCES = 20


def _documents_table(rows):
    cols = list(zip(*rows))
    return pa.table({
        "doc_id": pa.array(cols[0], pa.int64()), "text": pa.array(cols[1], pa.string()),
        "lang": pa.array(cols[2], pa.string()), "source": pa.array(cols[3], pa.string()),
        "n_chars": pa.array([len(t) for t in cols[1]], pa.int64())})


MEDIA_GROUPS = 112      # imageCorpus: ids DIV 8 share one source image
# Blobs derive from doc ids alone, so one set covers every seed; the harness
# reads it from this sibling of the per-seed input directories.
MEDIA_BLOBS = "media_blobs"
MEDIA_PRESENT = 0.9     # share of each group's 8 ids present
MEDIA_DELTAS = 14       # one delta per pass; a run uses as many as it needs
MEDIA_SPLIT_SHARE = 0.5  # groups whose later members arrive in later deltas


# Delta 6 holds only fresh whole groups, so it bridges nothing; deltas 5 and
# 7 reach back into existing clusters. All three are measured passes (the
# harness measures from delta 5 on); fixed positions keep every run's
# measured passes alike; the seed picks the groups and documents.
MEDIA_ISOLATED = 6
MEDIA_BRIDGING = (5, 7)


def gen_media(seed, out):
    rng = random.Random(seed)
    groups = list(range(MEDIA_GROUPS))
    rng.shuffle(groups)
    ids, delta_of, split = [], {}, []
    for i, g in enumerate(groups):
        members = [g * 8 + j for j in range(8) if rng.random() < MEDIA_PRESENT]
        if not members:
            continue
        ids += members
        # every delta opens the same number of groups
        first = i % MEDIA_DELTAS
        later = [d for d in range(first + 1, MEDIA_DELTAS) if d != MEDIA_ISOLATED]
        delta_of[members[0]] = first
        is_split = len(members) > 1 and later and rng.random() < MEDIA_SPLIT_SHARE
        for m in members[1:]:
            delta_of[m] = rng.choice(later) if is_split else first
        if is_split:
            split.append(members)
    ids.sort()
    # make sure each bridging delta reaches back into an existing cluster
    for bridging in MEDIA_BRIDGING:
        seeded = [ms for ms in split if delta_of[ms[0]] < bridging]
        if seeded:
            delta_of[rng.choice(seeded)[-1]] = bridging
    rows = [(i, " ".join(rng.choice(VOCAB) for _ in range(10)), "en",
             f"src{i % DOC_SOURCES}") for i in ids]
    pq.write_table(_documents_table(rows), os.path.join(out, "documents.parquet"))
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "delta": pa.array([delta_of[i] for i in ids], pa.int32())}),
                   os.path.join(out, "deltas.parquet"))
    with open(os.path.join(out, "deltas.txt"), "w") as f:
        f.write(f"{MEDIA_DELTAS}\n")
    return {"docs": len(ids), "groups": MEDIA_GROUPS, "deltas": MEDIA_DELTAS,
            "docs_per_delta": len(ids) / MEDIA_DELTAS, "split_groups": len(split),
            "isolated_delta": MEDIA_ISOLATED, "bridging_deltas": list(MEDIA_BRIDGING),
            "input_rows": len(ids) / MEDIA_DELTAS}


def gen_media_blobs_ids(out):
    """The `documents` table of every doc id gen_media can emit."""
    os.makedirs(out)
    ids = range(MEDIA_GROUPS * 8)
    pq.write_table(_documents_table([(i, "", "en", f"src{i % DOC_SOURCES}") for i in ids]),
                   os.path.join(out, "documents.parquet"))


GENERATORS = {"etl_backfill": gen_etl, "media_incremental": gen_media}


def generate(workload, seed, out):
    """Write `workload`'s inputs for `seed` into the new directory `out`."""
    os.makedirs(out)
    summary = GENERATORS[workload](seed, out)
    with open(os.path.join(out, "summary.json"), "w") as f:
        json.dump(summary, f)
    return summary
