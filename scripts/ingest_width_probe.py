"""Warm ingest timings of one large zip member, for the post-decode width
rule in ``sources/ingest.py`` (BASELINE.md §ingest).

Builds a UTF-16 (BOM) zipped VR snapshot of ``--rows`` data rows by
cycling the packaged fixture's rows (which carry the quote-repair cases)
with a unique voter_reg_num/ncid each, then times ``read_source`` as
planned and the same decode at each forced ``--widths`` (1 = no
exchange), to a noop sink and to parquet. Runs are interleaved, one
warm-up each, and the median per plan is printed as one JSON line.

    python3 scripts/ingest_width_probe.py --rows 500000 --widths 1,2,4

Run it alone on the machine: a concurrent Spark job skews the timings.
"""

import argparse
import json
import shutil
import statistics
import sys
import tempfile
import time
import zipfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from k8e_fetch_spark.resources import fixtures_root
from k8e_fetch_spark.session import get_spark, ship_package
from k8e_fetch_spark.sources import ingest

NAME = "VR_Snapshot_20240514"


def build_zip(out: Path, rows: int) -> int:
    """Write the probe zip; returns the member's uncompressed bytes."""
    text = (fixtures_root() / f"{NAME}.tsv").read_bytes().decode("utf-16")
    header, *fixture = [ln for ln in text.split("\n") if ln]
    cells = [ln.split("\t") for ln in fixture]
    lines = [header]
    for i in range(rows):
        r = list(cells[i % len(cells)])
        r[1], r[2] = str(100000 + i), f"GN{i:07d}"
        lines.append("\t".join(r))
    data = ("\n".join(lines) + "\n").encode("utf-16")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr(f"{NAME}.tsv", data)
    return len(data)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rows", type=int, default=500_000)
    ap.add_argument("--widths", default="1,4", help="forced post-decode widths to compare")
    ap.add_argument("--rounds", type=int, default=5)
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args()

    work = Path(tempfile.mkdtemp(prefix="ingest_width_"))
    path = str(work / f"{NAME}.zip")
    member_bytes = build_zip(Path(path), args.rows)
    spark = get_spark(app_name="ingest-width-probe", cpus=args.cores)
    ship_package(spark)
    spec = ingest.dispatch(f"{NAME}.zip")
    header = ingest._head(path, spec.encoding)

    def forced(w: int):
        lines = ingest.raw_lines(spark, [path], spec.encoding)
        return ingest.parse_lines(
            lines, header, spec.sep, repair=spec.repair, rebalance_to=w if w > 1 else None
        )

    plans = {"planned": lambda: ingest.read_source(spark, [path], spec)}
    plans.update({f"width_{w}": (lambda w=w: forced(w)) for w in map(int, args.widths.split(","))})
    sinks = {
        "noop": lambda df: df.write.format("noop").mode("overwrite").save(),
        "parquet": lambda df: df.write.mode("overwrite").parquet(str(work / "out")),
    }
    times: dict[str, list[float]] = {}
    for sink, write in sinks.items():
        for plan in plans.values():
            write(plan())  # warm-up
        for r in range(args.rounds):
            for name, plan in list(plans.items())[:: 1 if r % 2 == 0 else -1]:
                t0 = time.perf_counter()
                write(plan())
                times.setdefault(f"{sink}:{name}", []).append(time.perf_counter() - t0)
    print(
        json.dumps(
            {
                "rows": args.rows,
                "member_bytes": member_bytes,
                "cores": args.cores,
                "planned_width": ingest._decode_width(spark, member_bytes),
                **{k: round(statistics.median(v), 3) for k, v in times.items()},
            }
        )
    )
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
