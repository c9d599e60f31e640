"""Seeded input generators. They run in the benchmark process, never in
the engine: each writes finished files, and the engine only reads them.

- ``ingest_file``: a reference-shaped sensor CSV (22 columns, SURVEY
  §1.5) with one row failing each rule of ``reference_ruleset()``, plus
  the truth the output checks compare with.
- ``analytics_tables``: the committed ``testdata_hostile_nonan`` fixture
  replicated with shifted keys (the scheme of ``tools/make_scale_data.py``),
  seeded row sampling on every replica but the first.
- ``stateful_files``: ``sources.eventgen`` rows for the mix's stateful
  drain, with their per-key fold.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import importlib.util
import os
import random
import sys
from collections import Counter

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# ingest_trickle
# --------------------------------------------------------------------------

SENSOR_COLUMNS = [
    ("farm_id", "string"),
    ("region", "string"),
    ("crop_type", "string"),
    ("soil_moisture_%", "float"),
    ("soil_pH", "float"),
    ("temperature_C", "float"),
    ("rainfall_mm", "float"),
    ("humidity_%", "float"),
    ("sunlight_hours", "float"),
    ("irrigation_type", "string"),
    ("fertilizer_type", "string"),
    ("pesticide_usage_ml", "float"),
    ("sowing_date", "date"),
    ("harvest_date", "date"),
    ("total_days", "int"),
    ("yield_kg_per_hectare", "float"),
    ("sensor_id", "string"),
    ("timestamp", "timestamp"),
    ("latitude", "double"),
    ("longitude", "double"),
    ("NDVI_index", "float"),
    ("crop_disease_status", "string"),
]
SENSOR_DDL = ", ".join(f"`{c}` {t}" for c, t in SENSOR_COLUMNS)
ROWS_PER_FILE = 500

# Rows per file that fail each rule, first-error-wins (key -> numeric ->
# range -> heavy-null). The reference dataset has no bad row, and its
# hand-made corrupted copy has one (temperature_C out of range). Modelled
# on that copy, each rule fails one row per file, so every rule fires.
# ALL_NULL rows (one, for the same reason) are dropped by clean() before
# validation and appear in no output.
BAD_ROWS = {
    "null_key:sensor_id": 1,
    "null_key:timestamp": 1,
    "null_key:temperature_C": 1,
    "not_numeric:temperature_C": 1,
    "out_of_range:temperature_C": 1,
    "heavy_null_row": 1,
}
ALL_NULL = 1
_HEAVY_NULLED = [c for c, _ in SENSOR_COLUMNS if c not in ("farm_id", "sensor_id", "timestamp", "temperature_C")][:12]

_REGIONS = ["North India", "South USA", "East Africa", "Central Europe", "South America"]
_CROPS = ["Wheat", "Soybean", "Rice", "Maize", "Cotton"]


def _good_row(rng: random.Random, farm: int) -> dict[str, str]:
    sow = dt.date(2024, 1, 1) + dt.timedelta(days=rng.randrange(90))
    days = rng.randrange(90, 181)
    return {
        "farm_id": f"FARM{farm:07d}",
        # padded on some rows: clean() must trim it
        "region": rng.choice(_REGIONS) if rng.random() < 0.8 else f"  {rng.choice(_REGIONS)} ",
        "crop_type": rng.choice(_CROPS),
        "soil_moisture_%": f"{rng.uniform(10, 50):.2f}",
        "soil_pH": f"{rng.uniform(4.5, 8.5):.2f}",
        "temperature_C": f"{rng.uniform(-10, 40):.2f}",
        "rainfall_mm": f"{rng.uniform(20, 300):.2f}",
        "humidity_%": f"{rng.uniform(20, 95):.2f}",
        "sunlight_hours": f"{rng.uniform(2, 12):.2f}",
        "irrigation_type": rng.choice(["None", "Sprinkler", "Drip", "Manual"]),
        "fertilizer_type": rng.choice(["Organic", "Inorganic", "Mixed"]),
        "pesticide_usage_ml": f"{rng.uniform(0, 50):.2f}",
        "sowing_date": sow.isoformat(),
        "harvest_date": (sow + dt.timedelta(days=days)).isoformat(),
        "total_days": str(days),
        "yield_kg_per_hectare": f"{rng.uniform(1000, 9000):.2f}",
        "sensor_id": f"SENS{rng.randrange(10000):04d}",
        "timestamp": f"2024-{rng.randrange(1, 13):02d}-{rng.randrange(1, 29):02d}T{rng.randrange(24):02d}:{rng.randrange(60):02d}:00",
        "latitude": f"{rng.uniform(-35, 40):.6f}",
        "longitude": f"{rng.uniform(-120, 90):.6f}",
        "NDVI_index": f"{rng.uniform(0, 1):.3f}",
        "crop_disease_status": rng.choice(["None", "Mild", "Moderate", "Severe"]),
    }


def _spoil(row: dict[str, str], reason: str, rng: random.Random) -> None:
    if reason.startswith("null_key:"):
        row[reason.split(":", 1)[1]] = ""
    elif reason == "not_numeric:temperature_C":
        row["temperature_C"] = "NaN"
    elif reason == "out_of_range:temperature_C":
        row["temperature_C"] = rng.choice(["61.79", "-77.00"])
    elif reason == "heavy_null_row":
        for c in _HEAVY_NULLED:
            row[c] = ""


def ingest_file(seed: int, index: int) -> tuple[str, dict]:
    """One CSV (text) and its truth: total rows after clean(), good rows,
    and the ``error_reason`` histogram."""
    rng = random.Random(f"ingest:{seed}:{index}")
    kinds = ["good"] * (ROWS_PER_FILE - sum(BAD_ROWS.values()) - ALL_NULL)
    for reason, n in BAD_ROWS.items():
        kinds += [reason] * n
    kinds += ["all_null"] * ALL_NULL
    rng.shuffle(kinds)
    names = [c for c, _ in SENSOR_COLUMNS]
    lines = [",".join(names)]
    for j, kind in enumerate(kinds):
        if kind == "all_null":
            lines.append("," * (len(names) - 1))
            continue
        row = _good_row(rng, index * ROWS_PER_FILE + j)
        if kind != "good":
            _spoil(row, kind, rng)
        lines.append(",".join(row[c] for c in names))
    n_kept = ROWS_PER_FILE - ALL_NULL
    truth = {
        "total": n_kept,
        "good": kinds.count("good"),
        "bad": n_kept - kinds.count("good"),
        "reasons": dict(Counter(k for k in kinds if k not in ("good", "all_null"))),
    }
    return "\n".join(lines) + "\n", truth


# --------------------------------------------------------------------------
# analytics_mix
# --------------------------------------------------------------------------


def load_tool(root: str, name: str):
    """The repo's ``tools/<name>.py``, loaded from its file, read-only.
    ``sys.path`` is restored afterwards: some tools prepend a path."""
    saved = list(sys.path)
    spec = importlib.util.spec_from_file_location(f"perfbench_tools_{name}", os.path.join(root, "tools", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


def _keep_mask(seed: int, table: str, replica: int, n: int, keep: float) -> pa.Array:
    digest = hashlib.sha256(f"{seed}:{table}:{replica}".encode()).digest()
    rng = random.Random(digest)
    return pa.array([rng.random() < keep for _ in range(n)])


def analytics_tables(root: str, seed: int, out_dir: str, replicas: int, keep: float = 0.9) -> dict[str, int]:
    """Replicate the committed fixture ``replicas`` times with every id
    shifted per replica; replicas after the first keep a seeded ``keep``
    share of their rows. Returns row counts per table."""
    scale = load_tool(root, "make_scale_data")
    base = os.path.join(root, "testdata_hostile_nonan")
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name in list(scale.COPY_ONLY) + list(scale.SHIFTS):
        src = pq.read_table(os.path.join(base, f"{name}.parquet"))
        parts = [src]
        for r in range(1, replicas if name in scale.SHIFTS else 1):
            cols = []
            for field, col in zip(src.schema, src.columns):
                stride = scale.SHIFTS[name].get(field.name, 0)
                cols.append(pc.add(col, pa.scalar(r * stride, col.type)) if stride else col)
            part = pa.Table.from_arrays(cols, schema=src.schema)
            parts.append(part.filter(_keep_mask(seed, name, r, part.num_rows, keep)))
        table = pa.concat_tables(parts)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


def stateful_files(seed: int, out_dir: str, files: int, rows: int, keys: int) -> dict[int, tuple[int, float]]:
    """``files`` parquet files of ``rows`` consecutive ``sources.eventgen.
    gen_row`` rows each, from a seeded start id, over ``keys`` users.
    Values are quantised to 1/64, so every sum of them is exact whatever
    order it is added in: Spark does not fix the row order within a
    group, and pandas sums pairwise. Returns the pure-Python fold of the
    files in batch order: user -> (n_events, sum_value)."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.sources.eventgen import gen_row

    os.makedirs(out_dir, exist_ok=True)
    start = random.Random(f"stateful:{seed}").randrange(1 << 40)
    fold: dict[int, tuple[int, float]] = {}
    for f in range(files):
        cols: dict[str, list] = {"event_id": [], "user_id": [], "event_type": [], "value": []}
        for i in range(start + f * rows, start + (f + 1) * rows):
            event_id, user, etype, value = gen_row(i, keys)
            value = round(value * 64) / 64
            for k, v in zip(cols, (event_id, user, etype, value)):
                cols[k].append(v)
            n, total = fold.get(user, (0, 0.0))
            fold[user] = (n + 1, total + value)
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"b{f:03d}.parquet"))
    return fold
