"""Seeded raw-export generator for the snapshot benchmark.

Writes the raw tree `graft.pipeline.RunPipeline` reads:

    <root>/raw/P000001/apple/export/HealthAutoExport-<snapshot>.zip
        apple_health_export/export.xml        HR, HRV, sleep, steps,
                                              distance, active energy
        apple_health_export/Medications.csv
        apple_health_export/StateOfMind.csv   (only when the shape has SoM)

in the record shapes of `RunPipelineSpec.buildFixture`, scaled up.

Each workload shape fixes one health history: every value the pipeline reads
comes from a random stream seeded by the shape's name, so the snapshot's
artifacts are the same for every seed and `expected.json` can hold them.
`--seed` decides everything else: the order of the records and CSV rows, and
the values of the record types that no stage reads (which are mixed in at a
fixed count). Different seeds thus give different files, different
byte-range splits and different task contents for the same health history.

    python3 snapbench/gen.py --shape ingest_8y --seed 7 --out /tmp/x
    python3 snapbench/gen.py --shape ml_folds --seed 7 --out /tmp/x --zepp
"""

import argparse
import datetime as dt
import io
import json
import os
import random
import zipfile

PARTICIPANT = "P000001"
SNAPSHOT = "2025-08-31"

# Per-day record counts and the span of each workload. 2017-12-04 to
# 2025-08-31 is the reference's 2,828-day timeline cut at the snapshot.
SHAPES = {
    # ingest-bound: a dense HR stream, no StateOfMind, so ML is bypassed
    "ingest_8y": dict(start="2017-12-04", hr_per_day=24, steps_per_day=8,
                      som_from=None),
    # ML-bound: one year of sparse events, daily StateOfMind over the final
    # 7.5 months, which gives one trainable monthly fold for each of the four
    # families
    "ml_folds": dict(start="2024-09-01", hr_per_day=4, steps_per_day=2,
                     som_from="2025-01-15"),
}
# record types no pipeline stage reads, with their value ranges
DISTRACTORS = [("HKQuantityTypeIdentifierRespiratoryRate", 12, 20),
               ("HKQuantityTypeIdentifierOxygenSaturation", 94, 100),
               ("HKQuantityTypeIdentifierBodyMass", 60, 90)]
DISTRACTOR_SHARE = 0.05

HR = "HKQuantityTypeIdentifierHeartRate"
HRV = "HKQuantityTypeIdentifierHeartRateVariabilitySDNN"
SLEEP = "HKCategoryTypeIdentifierSleepAnalysis"
STEPS = "HKQuantityTypeIdentifierStepCount"
DIST = "HKQuantityTypeIdentifierDistanceWalkingRunning"
ENERGY = "HKQuantityTypeIdentifierActiveEnergyBurned"


def _ts(d, secs):
    return f"{d} {secs // 3600:02d}:{secs % 3600 // 60:02d}:{secs % 60:02d} +0000"


def _record(rtype, source, unit, value, start, end):
    return (f'  <Record type="{rtype}" sourceName="{source}" unit="{unit}" '
            f'creationDate="{end}" startDate="{start}" endDate="{end}" '
            f'value="{value}"/>\n')


def _days(start, end):
    d0, d1 = dt.date.fromisoformat(start), dt.date.fromisoformat(end)
    return [d0 + dt.timedelta(i) for i in range((d1 - d0).days + 1)]


def history(shape):
    """The shape's records and CSV rows, fixed by the shape's name."""
    p = SHAPES[shape]
    rng = random.Random(f"history:{shape}")
    days = _days(p["start"], SNAPSHOT)
    rec = {t: [] for t in (HR, HRV, SLEEP, STEPS, DIST, ENERGY)}
    for d in days:
        nxt = d + dt.timedelta(1)
        base = rng.randint(58, 80)
        for k in range(p["hr_per_day"]):
            s = _ts(d, k * 86400 // p["hr_per_day"] + rng.randint(0, 59))
            rec[HR].append(_record(HR, "Watch", "count/min",
                                   base + rng.randint(-12, 45), s, s))
        s = _ts(d, 7 * 3600 + 1800)
        rec[HRV].append(_record(HRV, "Watch", "ms", rng.randint(20, 95), s, s))
        bed = 21 * 3600 + rng.randint(0, 7200)
        asleep = bed + rng.randint(600, 2400)
        wake = 6 * 3600 + rng.randint(0, 7200)
        rec[SLEEP].append(_record(
            SLEEP, "Watch", "", "HKCategoryValueSleepAnalysisInBed",
            _ts(d, bed), _ts(nxt, wake)))
        rec[SLEEP].append(_record(
            SLEEP, "Watch", "", "HKCategoryValueSleepAnalysisAsleep",
            _ts(d, asleep), _ts(d, 86399)))
        rec[SLEEP].append(_record(
            SLEEP, "Watch", "", "HKCategoryValueSleepAnalysisAsleep",
            _ts(nxt, 0), _ts(nxt, wake - rng.randint(0, 600))))
        for k in range(p["steps_per_day"]):
            s = _ts(d, 8 * 3600 + k * 50400 // p["steps_per_day"])
            e = _ts(d, 8 * 3600 + k * 50400 // p["steps_per_day"] + 1800)
            steps = rng.randint(100, 2500)
            rec[STEPS].append(_record(STEPS, "Phone", "count", steps, s, e))
            rec[DIST].append(_record(DIST, "Phone", "km", f"{steps / 1310:.4f}", s, e))
        s, e = _ts(d, 13 * 3600), _ts(d, 14 * 3600)
        rec[ENERGY].append(_record(ENERGY, "Watch", "kcal", rng.randint(150, 800), s, e))
    meds = [f"{d} 09:{rng.randint(0, 59):02d}:00 +0000,Sertraline,,50,mg,Taken,No,\n"
            for d in days if rng.random() < 0.7]
    som = []
    if p["som_from"]:
        for d in days:
            if d >= dt.date.fromisoformat(p["som_from"]):
                for k in range(rng.choice([1, 1, 2])):
                    v = rng.choice([-0.9, -0.6, -0.3, 0.1, 0.4, 0.6, 0.8])
                    som.append(f"{d} {10 + 6 * k}:00:00 +0000,,Daily Mood,"
                               f"Calm|Content,Work,{v},\n")
    return days, rec, meds, som


def generate(shape, seed, out, zepp=False):
    """Write the shape's raw tree under `out` for `seed`; return its input
    size: days, records per type and the bytes of export.xml."""
    days, rec, meds, som = history(shape)
    rng = random.Random(f"seed:{seed}")
    lines = [line for rows in rec.values() for line in rows]
    n_distractor = int(len(lines) * DISTRACTOR_SHARE)
    for i in range(n_distractor):
        rtype, lo, hi = DISTRACTORS[i % len(DISTRACTORS)]
        s = _ts(rng.choice(days), rng.randint(0, 86399))
        lines.append(_record(rtype, "Watch", "", rng.randint(lo, hi), s, s))
    rng.shuffle(lines)
    rng.shuffle(meds)
    rng.shuffle(som)
    xml = io.StringIO()
    xml.write('<?xml version="1.0" encoding="UTF-8"?>\n'
              '<HealthData locale="en_US">\n')
    xml.writelines(lines)
    xml.write("</HealthData>\n")
    xml_bytes = xml.getvalue().encode("utf-8")

    export_dir = os.path.join(out, "raw", PARTICIPANT, "apple", "export")
    os.makedirs(export_dir, exist_ok=True)
    zip_path = os.path.join(export_dir, f"HealthAutoExport-{SNAPSHOT}.zip")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as z:
        z.writestr("apple_health_export/export.xml", xml_bytes)
        z.writestr("apple_health_export/Medications.csv",
                   "Date,Medication,Nickname,Dosage,Unit,Status,Archived,Codings\n"
                   + "".join(meds))
        if som:
            z.writestr("apple_health_export/StateOfMind.csv",
                       "Start,End,Kind,Labels,Associations,Valence,"
                       "Valence Classification\n" + "".join(som))
    if zepp:
        _write_zepp(out, days, rng)
    size = {"days": len(days), "xml_bytes": len(xml_bytes),
            "distractor_records": n_distractor, "medications_rows": len(meds),
            "state_of_mind_rows": len(som)}
    size.update({f"records.{t.split('Identifier')[1]}": len(r) for t, r in rec.items()})
    return size


def _write_zepp(out, days, rng):
    """An unencrypted Zepp cloud ZIP with daily SLEEP CSVs."""
    zdir = os.path.join(out, "raw", PARTICIPANT, "zepp")
    os.makedirs(zdir, exist_ok=True)
    rows = ["date,deepSleepTime,shallowSleepTime,REMTime\n"] + [
        f"{d},{rng.randint(40, 120)},{rng.randint(150, 300)},{rng.randint(40, 110)}\n"
        for d in days[-120:]]
    path = os.path.join(zdir, "3075021620_1756641600000.zip")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("SLEEP/SLEEP_1756641600000.csv", "".join(rows))
    noon = dt.datetime.fromisoformat(f"{SNAPSHOT}T12:00:00+00:00").timestamp()
    os.utime(path, (noon, noon))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--shape", choices=sorted(SHAPES), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--zepp", action="store_true",
                    help="also write a Zepp ZIP with SLEEP CSVs")
    a = ap.parse_args()
    print(json.dumps(generate(a.shape, a.seed, a.out, a.zepp)))


if __name__ == "__main__":
    main()
