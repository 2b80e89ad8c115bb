#!/usr/bin/env python3
"""Direct parity check: run the ACTUAL reference implementation
(/root/reference, read-only) and the Spark engine on the same fixtures and
diff the outputs. Dev tool (driver-side python/pandas); results recorded in
COVERAGE.md.

Usage: python3 tools/reference_parity.py
"""
import gzip
import subprocess
import sys
import tempfile
from pathlib import Path

import numpy as np
import pandas as pd

sys.path.insert(0, "/root/reference")
sys.path.insert(0, "/root/reference/src")  # modules import `lib.*` as top-level

# The reference's package __init__ imports its iPhone-backup decryptor,
# which needs pycryptodome (absent here and out of engine scope, SURVEY
# S12). Stub the Crypto modules so the pure-pandas domain code imports.
import types  # noqa: E402

for name in ["Crypto", "Crypto.Cipher", "Crypto.Cipher.AES",
             "Crypto.Hash", "Crypto.Protocol", "Crypto.Protocol.KDF",
             "Crypto.Util"]:
    sys.modules.setdefault(name, types.ModuleType(name))


class _FakePbar:
    """tqdm stand-in: context manager + update + iteration passthrough."""

    def __init__(self, *args, **kwargs):
        self._it = args[0] if args and hasattr(args[0], "__iter__") else []
        self.n = 0

    def __enter__(self):
        return self

    def __exit__(self, *a):
        return False

    def __iter__(self):
        return iter(self._it)

    def update(self, *a, **k):
        self.n += 1

    def close(self):
        pass

    def set_description(self, *a, **k):
        pass


_tqdm_mod = types.ModuleType("tqdm")
_tqdm_mod.tqdm = _FakePbar
sys.modules.setdefault("tqdm", _tqdm_mod)

OUT = Path(tempfile.mkdtemp(prefix="graft-parity-"))


def run_engine(task, in_csv, out_csv, *extra):
    subprocess.run(
        ["sbt", "-batch",
         f"runMain graft.tools.ParityDump {task} {in_csv} {out_csv} " +
         " ".join(extra)],
        cwd="/root/repo", check=True, capture_output=True, text=True)


def check(name, expected: pd.DataFrame, got: pd.DataFrame, float_tol=2e-6):
    expected = expected.reindex(sorted(expected.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    if list(expected.columns) != list(got.columns):
        print(f"FAIL {name}: columns {list(expected.columns)} vs {list(got.columns)}")
        return False
    expected = expected.sort_values(list(expected.columns)).reset_index(drop=True)
    got = got.sort_values(list(got.columns)).reset_index(drop=True)
    if len(expected) != len(got):
        print(f"FAIL {name}: rows {len(expected)} vs {len(got)}")
        return False
    for c in expected.columns:
        e, g = expected[c], got[c]
        if np.issubdtype(e.dtype, np.floating) or np.issubdtype(g.dtype, np.floating):
            e = pd.to_numeric(e, errors="coerce")
            g = pd.to_numeric(g, errors="coerce")
            bad = ~(np.isclose(e, g, atol=float_tol, rtol=0) | (e.isna() & g.isna()))
        else:
            bad = ~((e.astype(str) == g.astype(str)) | (e.isna() & g.isna()))
        if bad.any():
            i = bad.idxmax()
            print(f"FAIL {name}: {c}[{i}] reference={e[i]!r} engine={g[i]!r}")
            return False
    print(f"PASS {name} ({len(got)} rows identical)")
    return True


def meds_parity():
    rng = np.random.default_rng(42)
    meds = ["Sertraline", "Methylphenidate", "Melatonin", "Omega-3"]
    rows = []
    for i in range(300):
        day = 1 + int(rng.integers(0, 28))
        offset = ["+0000", "+0100", "-0500"][int(rng.integers(0, 3))]
        status = ["Taken", "Taken", "Taken", "Skipped", "Not Interacted"][
            int(rng.integers(0, 5))]
        dosage = ["", "50", "10.5", "2"][int(rng.integers(0, 4))]
        rows.append({
            "Date": f"2021-05-{day:02d} {int(rng.integers(0, 24)):02d}:30:00 {offset}",
            "Medication": meds[int(rng.integers(0, 4))],
            "Nickname": "", "Dosage": dosage, "Unit": "mg",
            "Status": status, "Archived": "No", "Codings": ""})
    # a record past the snapshot
    rows.append({"Date": "2021-06-15 10:00:00 +0000", "Medication": "Future",
                 "Nickname": "", "Dosage": "1", "Unit": "mg", "Status": "Taken",
                 "Archived": "No", "Codings": ""})
    fixture = OUT / "Medications.csv"
    pd.DataFrame(rows).to_csv(fixture, index=False)

    from src.domains.meds.meds_from_extracted import load_autoexport_meds_daily
    expected = load_autoexport_meds_daily(fixture, "2021-05-31")

    out_csv = OUT / "engine_meds.csv"
    run_engine("meds", str(fixture), str(out_csv), "2021-05-31")
    got = pd.read_csv(out_csv)
    return check("meds_daily (load_autoexport_meds_daily)", expected, got)


def pbsi_parity():
    rng = np.random.default_rng(42)
    n = 120
    df = pd.DataFrame({
        "date": pd.date_range("2021-05-01", periods=n).strftime("%Y-%m-%d"),
        "segment_id": np.repeat([1, 2, 3, 4], n // 4),
        "sleep_total_h": np.round(rng.normal(7, 1.2, n), 2),
        "sleep_efficiency": np.round(rng.uniform(0.6, 0.99, n), 3),
        "hr_mean": np.round(rng.normal(68, 8, n), 2),
        "hrv_rmssd": np.round(rng.normal(42, 12, n), 2),
        "hr_max": np.round(rng.normal(150, 15, n), 2),
        "steps": np.round(rng.normal(9000, 2500, n), 0),
        "exercise_min": np.round(rng.normal(35, 15, n), 1),
        "missing_sleep": rng.integers(0, 2, n),
        "missing_cardio": rng.integers(0, 2, n),
        "missing_activity": rng.integers(0, 2, n),
    })
    # plant missing values
    for c in ["sleep_total_h", "hrv_rmssd", "exercise_min"]:
        df.loc[rng.choice(n, 12, replace=False), c] = np.nan
    fixture = OUT / "unified.csv"
    df.to_csv(fixture, index=False)

    from src.labels.build_pbsi import build_pbsi_labels
    ref = build_pbsi_labels(df.copy(), use_percentile_thresholds=True)
    expected = ref[["date", "sleep_sub", "cardio_sub", "activity_sub",
                    "pbsi_score", "label_3cls", "label_2cls", "pbsi_quality"]]

    out_csv = OUT / "engine_pbsi.csv"
    run_engine("pbsi", str(fixture), str(out_csv))
    got = pd.read_csv(out_csv)
    return check("pbsi_labels (build_pbsi_labels)", expected, got)


def som_parity():
    rng = np.random.default_rng(42)
    kinds = ["Daily Mood", "Momentary Emotion"]
    labels = ["Happy", "Content", "Grateful", "Anxious", "Tired", "Calm"]
    rows = []
    for i in range(250):
        day = 1 + int(rng.integers(0, 20))
        hh, mm = int(rng.integers(0, 24)), int(rng.integers(0, 60))
        offset = ["+0000", "+0100", "-0500"][int(rng.integers(0, 3))]
        lab = " | ".join(sorted(set(
            labels[int(j)] for j in rng.integers(0, 6, int(rng.integers(1, 4))))))
        rows.append({
            "Start": f"2021-05-{day:02d} {hh:02d}:{mm:02d}:{i % 60:02d} {offset}",
            "End": "", "Kind": kinds[int(rng.integers(0, 2))],
            "Labels": lab, "Associations": "Work | Family",
            "Valence": "" if rng.random() < 0.1 else
            str(round(float(rng.uniform(-1, 1)), 2)),
            "Valence Classification": ""})
    fixture = OUT / "StateOfMind.csv"
    pd.DataFrame(rows).to_csv(fixture, index=False)

    from src.domains.som.som_from_autoexport import SoMAggregator
    expected = SoMAggregator(fixture).aggregate_daily(snapshot_date="2021-05-18")

    out_csv = OUT / "engine_som.csv"
    run_engine("som", str(fixture), str(out_csv), "2021-05-18")
    got = pd.read_csv(out_csv, keep_default_na=False,
                      na_values=[""], dtype={"som_kind_dominant": str})
    # reference empty-string columns read back as NaN from csv; align
    for c in ["som_kind_dominant", "som_labels", "som_associations"]:
        got[c] = got[c].fillna("")
    return check("som_daily (SoMAggregator.aggregate_daily)", expected, got)


def unify_parity():
    rng = np.random.default_rng(42)

    def maybe(v, p=0.15):
        return np.nan if rng.random() < p else v

    apple_rows = []
    for day in range(1, 21):
        if day in (7, 13):
            continue  # gaps: zepp-only coverage
        apple_rows.append({
            "date": f"2021-05-{day:02d}",
            "sleep_total_h": maybe(round(float(rng.normal(7, 1)), 2)),
            "sleep_eff": maybe(round(float(rng.uniform(0.6, 0.98)), 3)),
            "apple_hr_mean": maybe(round(float(rng.normal(66, 6)), 2)),
            "apple_hr_max": maybe(round(float(rng.normal(150, 12)), 2)),
            "apple_hrv_rmssd": maybe(round(float(rng.normal(40, 10)), 2)),
            "steps": maybe(float(int(rng.normal(9000, 2000)))),
            "exercise_min": maybe(round(float(rng.normal(30, 10)), 1)),
            "stand_hours": maybe(float(int(rng.integers(6, 15)))),
            "move_kcal": maybe(round(float(rng.normal(500, 120)), 1))})
    zepp_rows = []
    for day in range(5, 29):
        zepp_rows.append({
            "date": f"2021-05-{day:02d}",
            "zepp_slp_total_h": maybe(round(float(rng.normal(6.8, 1)), 2)),
            "zepp_slp_eff": maybe(round(float(rng.uniform(60, 98)), 1)),  # 0-100 scale
            "zepp_hr_mean": maybe(round(float(rng.normal(68, 6)), 2)),
            "zepp_hr_max": maybe(round(float(rng.normal(152, 12)), 2)),
            "zepp_hrv_rmssd": maybe(round(float(rng.normal(38, 10)), 2)),
            "zepp_steps": maybe(float(int(rng.normal(8500, 2000)))),
            "zepp_exercise_min": maybe(round(float(rng.normal(28, 10)), 1)),
            "zepp_stand_hours": maybe(float(int(rng.integers(5, 14)))),
            "zepp_kcal": maybe(round(float(rng.normal(480, 120)), 1))})
    apple_df = pd.DataFrame(apple_rows)
    zepp_df = pd.DataFrame(zepp_rows)
    a_csv, z_csv = OUT / "apple_daily.csv", OUT / "zepp_daily.csv"
    apple_df.to_csv(a_csv, index=False)
    zepp_df.to_csv(z_csv, index=False)

    from src.features.unify_daily import merge_apple_zepp
    expected = merge_apple_zepp(apple_df.copy(), zepp_df.copy())

    out_csv = OUT / "engine_unify.csv"
    run_engine("unify", f"{a_csv},{z_csv}", str(out_csv))
    got = pd.read_csv(out_csv)
    return check("unify_daily (merge_apple_zepp)", expected, got)


def instability_parity():
    rng = np.random.default_rng(42)
    n = 90
    feats = pd.DataFrame({
        "date": pd.date_range("2021-05-01", periods=n).strftime("%Y-%m-%d"),
        "hr_mean": np.round(rng.normal(68, 8, n), 2),
        "sleep_h": np.round(rng.normal(7, 1, n), 2),
        "steps": np.round(rng.normal(9000, 2500, n), 0),
    })
    feats.loc[rng.choice(n, 10, replace=False), "sleep_h"] = np.nan
    segs = pd.DataFrame({
        "segment_id": [0, 1, 2],
        "date_start": ["2021-05-01", "2021-06-01", "2021-07-01"],
        "date_end": ["2021-05-28", "2021-06-25", "2021-07-25"],
        "reason": ["initial", "gap", "gap"],
    })  # days 05-29..05-31 and 06-26..06-30 fall outside -> dropped
    f_csv, s_csv = OUT / "features.csv", OUT / "segments.csv"
    feats.to_csv(f_csv, index=False)
    segs.to_csv(s_csv, index=False)

    from src.utils.temporal_instability import compute_instability_scores
    scores = compute_instability_scores(
        feats.copy(), str(s_csv), ["hr_mean", "sleep_h", "steps"])
    expected = pd.DataFrame(
        [{"feature": k, "instability": v} for k, v in scores.items()])

    out_csv = OUT / "engine_instability.csv"
    run_engine("instability", f"{f_csv},{s_csv}", str(out_csv))
    got = pd.read_csv(out_csv)
    return check("instability (compute_instability_scores)", expected, got)


def zeppsleep_parity():
    rng = np.random.default_rng(42)
    # daily-summary format: stage MINUTES (max > 24 triggers the /60)
    daily_rows = []
    for day in range(1, 15):
        daily_rows.append({
            "date": f"2022-01-{day:02d}",
            "deepSleepTime": int(rng.integers(40, 140)),
            "shallowSleepTime": int(rng.integers(120, 320)),
            "REMTime": int(rng.integers(30, 110))})
    # a zero-sleep day that must be dropped
    daily_rows.append({"date": "2022-01-20", "deepSleepTime": 0,
                       "shallowSleepTime": 0, "REMTime": 0})
    # naps format: JSON arrays incl. a negative-duration nap and an empty day
    naps_rows = [
        {"date": "2022-01-08", "naps":
            '[{"start":"2022-01-08 00:33:10+0000","end":"2022-01-08 01:33:10+0000"},'
            '{"start":"2022-01-08 14:00:00+0000","end":"2022-01-08 14:45:00+0000"}]'},
        {"date": "2022-01-09", "naps":
            '[{"start":"2022-01-09 10:00:00+0000","end":"2022-01-09 09:00:00+0000"}]'},
        {"date": "2022-01-16", "naps":
            '[{"start":"2022-01-16 13:00:00+0000","end":"2022-01-16 13:30:00+0000"}]'},
        {"date": "2022-01-17", "naps": "[]"},
    ]
    # interval format: start/stop/stage rows, midnight-spanning, mixed
    # stage labels incl. unmapped ("awake" -> counts toward total only)
    rng2 = np.random.default_rng(7)
    interval_rows = []
    for day in range(21, 26):
        for (h0, m0, h1, m1, stage) in [
                (23, 30, 1, 15, "deep sleep"), (1, 15, 3, 0, "light"),
                (3, 0, 4, 10, "REM phase"), (4, 10, 4, 40, "awake")]:
            d0 = day if h0 >= 20 else day + 1
            d1 = day + 1 if h1 < 20 else day
            interval_rows.append({
                "start": f"2022-01-{d0:02d} {h0:02d}:{m0:02d}:00+0000",
                "stop": f"2022-01-{d1:02d} {h1:02d}:{m1:02d}:00+0000",
                "stage": stage})
    d_csv, n_csv = OUT / "zepp_sleep_daily.csv", OUT / "zepp_sleep_naps.csv"
    i_csv = OUT / "zepp_sleep_intervals.csv"
    pd.DataFrame(daily_rows).to_csv(d_csv, index=False)
    pd.DataFrame(naps_rows).to_csv(n_csv, index=False)
    pd.DataFrame(interval_rows).to_csv(i_csv, index=False)

    # reference loader wants the snapshot layout
    snap = OUT / "snap"
    cloud = snap / "extracted" / "zepp" / "cloud" / "SLEEP"
    cloud.mkdir(parents=True)
    pd.DataFrame(daily_rows).to_csv(cloud / "SLEEP_2022.csv", index=False)
    pd.DataFrame(naps_rows).to_csv(cloud / "SLEEP_NAPS_2022.csv", index=False)
    pd.DataFrame(interval_rows).to_csv(cloud / "SLEEP_INTERVALS_2022.csv", index=False)

    from src.domains.sleep.sleep_from_extracted import load_zepp_sleep_daily_from_cloud
    expected = load_zepp_sleep_daily_from_cloud(snap, home_tz="Asia/Tokyo")
    expected = expected.copy()
    expected["date"] = pd.to_datetime(expected["date"]).dt.strftime("%Y-%m-%d")

    out_csv = OUT / "engine_zeppsleep.csv"
    run_engine("zeppsleep", f"{d_csv},{n_csv},{i_csv},Asia/Tokyo", str(out_csv))
    got = pd.read_csv(out_csv)
    return check("zepp_sleep (load_zepp_sleep_daily_from_cloud)", expected, got,
                 float_tol=1e-4)


def zepphr_parity():
    rng = np.random.default_rng(42)
    rows = []
    for i in range(2000):
        day = 1 + int(rng.integers(0, 25))
        hr = float(rng.normal(70, 25))  # includes <30 / >220 outliers
        rows.append({
            "time": f"2021-05-{day:02d} {int(rng.integers(0,24)):02d}:"
                    f"{int(rng.integers(0,60)):02d}:{i % 60:02d}+0000",
            "heartRate": round(hr, 1)})
    zdir = OUT / "zepp_hr" / "zepp"
    zdir.mkdir(parents=True, exist_ok=True)
    fixture = zdir / "HEARTRATE_auto.csv"
    pd.DataFrame(rows).to_csv(fixture, index=False)

    from src.etl.stage_csv_aggregation import ZeppHealthAggregator
    expected = ZeppHealthAggregator(str(zdir)).aggregate_heartrate()

    out_csv = OUT / "engine_zepphr.csv"
    run_engine("zepphr", str(fixture), str(out_csv))
    got = pd.read_csv(out_csv)
    return check("zepp_hr (ZeppHealthAggregator.aggregate_heartrate)", expected, got)


# The four Apple daily checks read the seeded fixtures committed for
# AppleDailyParitySpec, so this tool and `sbt test` share one source.
PARITY_FIXTURES = Path(__file__).resolve().parent.parent / "src/test/resources/parity"


def apple_fixture(name):
    """`<name>_export.xml.gz` from PARITY_FIXTURES, decompressed into
    OUT/<name>/export.xml for the reference's readers."""
    xml = OUT / name / "export.xml"
    if not xml.exists():
        xml.parent.mkdir()
        with gzip.open(PARITY_FIXTURES / f"{name}_export.xml.gz") as src:
            xml.write_bytes(src.read())
    return xml


def applehr_parity():
    """3000 HR records over 20 days (outliers, mixed offsets) with
    interleaved StepCount records the scan must skip."""
    xml = apple_fixture("applehr")
    from src.etl.stage_csv_aggregation import AppleHealthAggregator
    expected = AppleHealthAggregator(str(xml)).aggregate_heartrate()
    out_csv = OUT / "engine_applehr.csv"
    run_engine("applehr", str(xml), str(out_csv))
    got = pd.read_csv(out_csv)
    return check("apple_hr (AppleHealthAggregator.aggregate_heartrate)",
                 expected, got)


def applehrv_parity():
    """800 HRV records over 15 days (<5 / >300 outliers)."""
    xml = apple_fixture("applehrv_sleep")
    from src.etl.stage_csv_aggregation import AppleHealthAggregator
    expected = AppleHealthAggregator(str(xml)).aggregate_hrv()
    out_csv = OUT / "engine_applehrv.csv"
    run_engine("applehrv", str(xml), str(out_csv))
    got = pd.read_csv(out_csv)
    return check("apple_hrv (AppleHealthAggregator.aggregate_hrv)", expected, got)


def appleactivity_parity():
    """1200 steps/distance/energy records over 12 days, ~2% unparsable."""
    xml = apple_fixture("appleactivity")
    from src.etl.stage_csv_aggregation import AppleHealthAggregator
    expected = AppleHealthAggregator(str(xml)).aggregate_activity()
    out_csv = OUT / "engine_appleactivity.csv"
    run_engine("appleactivity", str(xml), str(out_csv))
    got = pd.read_csv(out_csv)
    return check("apple_activity (AppleHealthAggregator.aggregate_activity)",
                 expected, got, float_tol=1e-5)


def applesleep_parity():
    """11 nights in the HRV fixture: day 10 asleep with no InBed
    (inf -> 100), day 11 InBed only (asleep=0 -> 0)."""
    xml = apple_fixture("applehrv_sleep")
    from src.etl.stage_csv_aggregation import AppleHealthAggregator
    expected = AppleHealthAggregator(str(xml)).aggregate_sleep()
    out_csv = OUT / "engine_applesleep.csv"
    run_engine("applesleep", str(xml), str(out_csv))
    got = pd.read_csv(out_csv)
    return check("apple_sleep (AppleHealthAggregator.aggregate_sleep)", expected, got)


def autoseg_parity():
    """generate_segments: the full multi-rule auto-segmentation loop."""
    rng = np.random.default_rng(42)
    n = 280  # quiet tail after day ~167 so temporal_fallback (60d) fires too
    dates = pd.date_range("2021-03-01", periods=n)
    hr = rng.normal(66, 2.0, n)
    hr[60:] += 12.0        # HR delta-shift -> signal_change
    hrv = rng.normal(40, 2.5, n)
    hrv[120:] += 14.0      # HRV shift (HR quiet by then)
    sleep_eff = rng.uniform(0.84, 0.94, n)
    sleep_eff[160:] -= 0.12
    # sprinkle NaNs (below the 30% density ceiling)
    for arr in (hr, hrv, sleep_eff):
        arr[rng.choice(n, 12, replace=False)] = np.nan
    source = np.array(["apple"] * n, dtype=object)
    source[90:110] = "zepp"  # sustained vendor flip -> source_change
    missing_cardio = np.zeros(n, dtype=int)
    missing_sleep = np.zeros(n, dtype=int)
    missing_cardio[30:34] = 1  # 4-day double gap -> gap_recovery on day 34
    missing_sleep[30:34] = 1
    df = pd.DataFrame({
        "date": dates.strftime("%Y-%m-%d"),
        "hr_mean": np.round(hr, 2),
        "hrv_rmssd": np.round(hrv, 2),
        "sleep_efficiency": np.round(sleep_eff, 3),
        "source_cardio": source,
        "missing_cardio": missing_cardio,
        "missing_sleep": missing_sleep,
    })
    fixture = OUT / "autoseg_unified.csv"
    df.to_csv(fixture, index=False)

    from src.labels.auto_segment import generate_segments
    seg_df, decisions = generate_segments(df.copy())
    expected = seg_df[["date", "segment_id"]].copy()
    expected["date"] = pd.to_datetime(expected["date"]).dt.strftime("%Y-%m-%d")
    dec = pd.DataFrame(decisions)
    if len(dec) > 0:
        dec["date"] = pd.to_datetime(dec["date"]).dt.strftime("%Y-%m-%d")
        dec = dec[["date", "reason", "metric"]].replace("", np.nan)
        expected = expected.merge(dec, on="date", how="left")
    else:
        expected["reason"] = np.nan
        expected["metric"] = np.nan

    out_csv = OUT / "engine_autoseg.csv"
    run_engine("autoseg", str(fixture), str(out_csv))
    got = pd.read_csv(out_csv)
    return check("auto_segment (generate_segments, all 4 rules)", expected, got)


def activity_xml_fixture():
    """export.xml with Records + Workouts + ActivitySummary + screen time."""
    rng = np.random.default_rng(42)
    lines = ['<?xml version="1.0" encoding="UTF-8"?>', "<HealthData>"]
    types = [
        "HKQuantityTypeIdentifierStepCount",
        "HKQuantityTypeIdentifierDistanceWalkingRunning",
        "HKQuantityTypeIdentifierActiveEnergyBurned",
        "HKQuantityTypeIdentifierAppleExerciseTime",
        "HKQuantityTypeIdentifierAppleStandHoursCount",
        "HKQuantityTypeIdentifierHeartRate",  # filtered out (not activity)
    ]
    for i in range(600):
        t = types[int(rng.integers(0, len(types)))]
        day = 1 + int(rng.integers(0, 12))
        hh = int(rng.integers(0, 24))
        offset = ["+0000", "+0100", "-0500"][int(rng.integers(0, 3))]
        v = round(float(rng.uniform(0.5, 900)), 2)
        lines.append(
            f'  <Record type="{t}" sourceName="iPhone" value="{v}" '
            f'startDate="2024-01-{day:02d} {hh:02d}:15:00 {offset}" '
            f'endDate="2024-01-{day:02d} {hh:02d}:20:00 {offset}"/>')
    # a Workout element whose type matches the Distance substring route
    lines.append(
        '  <Workout type="DistanceCycling" value="1500.5" '
        'startDate="2024-01-03 10:00:00 +0000" '
        'endDate="2024-01-03 11:00:00 +0000"/>')
    # a Record with creationDate only (startDate fallback path)
    lines.append(
        '  <Record type="HKQuantityTypeIdentifierStepCount" value="250.7" '
        'creationDate="2024-01-04 09:00:00 +0000"/>')
    # screen-time records: value-carrying, ms-odd, and span-fallback
    for i in range(40):
        day = 1 + int(rng.integers(0, 12))
        hh = int(rng.integers(0, 24))
        sec = round(float(rng.uniform(60, 7200)), 1)
        lines.append(
            f'  <Record type="HKCategoryTypeIdentifierScreenTime" value="{sec}" '
            f'startDate="2024-01-{day:02d} {hh:02d}:00:00 +0000" '
            f'endDate="2024-01-{day:02d} {hh:02d}:30:00 +0000"/>')
    lines.append(  # ms-scaled value (> 36 h)
        '  <Record type="HKCategoryTypeIdentifierScreenTime" value="180000000" '
        'startDate="2024-01-06 12:00:00 +0000" endDate="2024-01-06 12:30:00 +0000"/>')
    lines.append(  # no value -> end - start span
        '  <Record type="HKCategoryTypeIdentifierScreenTime" '
        'startDate="2024-01-07 20:00:00 +0000" endDate="2024-01-07 21:10:00 +0000"/>')
    # ActivitySummary blocks LAST (the canonical export.xml layout)
    for day in range(1, 13):
        if day % 5 == 0:
            continue  # some days rely on record sums only
        lines.append(
            f'  <ActivitySummary dateComponents="2024-01-{day:02d}" '
            f'activeEnergyBurned="{400 + day}.5" appleExerciseTime="{30 + day}" '
            f'appleStandHours="{8 + day % 4}" activeEnergyBurnedGoal="500" '
            f'appleExerciseTimeGoal="30" appleStandHoursGoal="12" '
            f'move="{1 if day % 2 == 0 else 0}" exercise="true" stand="0"/>')
    lines.append("</HealthData>")
    xml = OUT / "activity_export.xml"
    xml.write_text("\n".join(lines))
    return xml


def appleactivityfull_parity():
    xml = activity_xml_fixture()
    from src.domains.activity.activity_from_extracted import load_apple_daily
    expected = load_apple_daily([xml], home_tz="Europe/Dublin")
    expected = expected.copy()
    expected["date"] = pd.to_datetime(expected["date"]).dt.strftime("%Y-%m-%d")

    out_csv = OUT / "engine_appleactivityfull.csv"
    run_engine("appleactivityfull", f"{xml},Europe/Dublin", str(out_csv))
    got = pd.read_csv(out_csv)
    # engine emits the full fixed schema; pandas only columns that appeared
    got = got[[c for c in got.columns if c in set(expected.columns)]]
    return check("apple_activity_full (load_apple_daily, Records+Workout+Summary)",
                 expected, got)


def screentime_parity():
    xml = activity_xml_fixture()
    from src.domains.extract_screen_time import extract_apple_screen_time
    expected = extract_apple_screen_time(
        xml, OUT / "ref_screentime.csv", "2024-01-05",
        "Europe/Dublin", "America/New_York")
    expected = expected.copy()
    expected["date"] = pd.to_datetime(expected["date"]).dt.strftime("%Y-%m-%d")

    out_csv = OUT / "engine_screentime.csv"
    run_engine("screentime",
               f"{xml},2024-01-05,Europe/Dublin,America/New_York", str(out_csv))
    got = pd.read_csv(out_csv)
    return check("screen_time (extract_apple_screen_time, tz cutover + ms heuristic)",
                 expected, got)


def cdaprobe_parity():
    """cda_probe: section/observation/code counts over a nested CDA doc."""
    rng = np.random.default_rng(42)
    codes = ["8867-4", "8480-6", "2708-6", None]
    lines = ['<?xml version="1.0" encoding="UTF-8"?>',
             '<ClinicalDocument xmlns="urn:hl7-org:v3">']
    for s in range(6):
        lines.append("  <component><section>")
        lines.append(f"    <title>Section {s}</title>")
        for o in range(int(rng.integers(3, 9))):
            c = codes[int(rng.integers(0, len(codes)))]
            lines.append('    <entry><observation classCode="OBS" moodCode="EVN">')
            if c is not None:
                lines.append(f'      <code code="{c}" codeSystem="2.16.840.1.113883.6.1"/>')
            elif rng.random() < 0.5:
                lines.append('      <code displayName="Unnamed metric"/>')
            lines.append(f'      <value value="{round(float(rng.uniform(40, 180)), 1)}" unit="1/min"/>')
            lines.append("    </observation></entry>")
        # decoys the tag test must exclude
        lines.append('    <observationMedia ID="m1"><value mediaType="image/png"/></observationMedia>')
        lines.append("  </section></component>")
    # namespace-prefixed elements (valid HL7 v3): tag endswith("observation")
    # must still count them, prefixed decoys must not
    lines.append('  <component><v3:section xmlns:v3="urn:hl7-org:v3">')
    for c in ("8867-4", None):
        lines.append('    <entry><v3:observation classCode="OBS">')
        if c:
            lines.append(f'      <v3:code code="{c}"/>')
        lines.append("    </v3:observation></entry>")
    lines.append('    <v3:observationMedia ID="m2"/>')
    lines.append("  </v3:section></component>")
    lines.append("</ClinicalDocument>")
    xml = OUT / "export_cda.xml"
    xml.write_text("\n".join(lines))

    from src.domains.cda.parse_cda import cda_probe
    summary = cda_probe(xml)
    rows = [{"key": "n_section", "cnt": summary["n_section"]},
            {"key": "n_observation", "cnt": summary["n_observation"]}]
    rows += [{"key": f"code_{c}", "cnt": n} for c, n in summary["codes"].items()]
    expected = pd.DataFrame(rows)

    out_csv = OUT / "engine_cdaprobe.csv"
    run_engine("cdaprobe", str(xml), str(out_csv))
    got = pd.read_csv(out_csv)
    return check("cda_probe (sections/observations/codes)", expected, got)


def unifyall_parity():
    """DailyUnifier.unify_all: the FULL stage-2 merge including meds + SoM."""
    rng = np.random.default_rng(42)

    def maybe(v, p=0.12):
        return np.nan if rng.random() < p else v

    ext = OUT / "extracted"
    (ext / "apple").mkdir(parents=True, exist_ok=True)
    (ext / "zepp").mkdir(parents=True, exist_ok=True)

    def days(lo, hi):
        return [f"2021-05-{d:02d}" for d in range(lo, hi)]

    pd.DataFrame([{
        "date": d,
        "sleep_hours": maybe(round(float(rng.normal(7, 1)), 2)),
        "sleep_quality_score": maybe(round(float(rng.uniform(40, 100)), 2)),
    } for d in days(1, 18) if d != "2021-05-07"]).to_csv(
        ext / "apple" / "daily_sleep.csv", index=False)
    pd.DataFrame([{
        "date": d,
        "sleep_hours": maybe(round(float(rng.normal(6.5, 1)), 2)),
        "sleep_quality_score": maybe(round(float(rng.uniform(40, 100)), 2)),
    } for d in days(5, 24)]).to_csv(ext / "zepp" / "daily_sleep.csv", index=False)

    pd.DataFrame([{
        "date": d,
        "hr_mean": maybe(round(float(rng.normal(66, 5)), 2)),
        "hr_min": maybe(round(float(rng.normal(48, 4)), 2)),
        "hr_max": maybe(round(float(rng.normal(150, 10)), 2)),
        "hr_std": maybe(round(float(rng.uniform(4, 14)), 3)),
        "hr_samples": float(int(rng.integers(500, 2000))),
        "hrv_sdnn_mean": maybe(round(float(rng.normal(42, 9)), 2)),
        "hrv_sdnn_median": maybe(round(float(rng.normal(40, 9)), 2)),
        "hrv_sdnn_min": maybe(round(float(rng.normal(18, 4)), 2)),
        "hrv_sdnn_max": maybe(round(float(rng.normal(90, 15)), 2)),
        "n_hrv_sdnn": float(int(rng.integers(3, 40))),
    } for d in days(1, 20) if d != "2021-05-11"]).to_csv(
        ext / "apple" / "daily_cardio.csv", index=False)
    pd.DataFrame([{
        "date": d,
        "hr_mean": maybe(round(float(rng.normal(68, 5)), 2)),
        "hr_min": maybe(round(float(rng.normal(50, 4)), 2)),
        "hr_max": maybe(round(float(rng.normal(148, 10)), 2)),
        "hr_std": maybe(round(float(rng.uniform(4, 14)), 3)),
        "hr_samples": float(int(rng.integers(800, 3000))),
    } for d in days(3, 26)]).to_csv(ext / "zepp" / "daily_cardio.csv", index=False)

    pd.DataFrame([{
        "date": d,
        "total_steps": maybe(float(int(rng.normal(9000, 2200)))),
        "total_distance": maybe(round(float(rng.normal(6.4, 1.8)), 3)),
        "total_active_energy": maybe(round(float(rng.normal(520, 130)), 1)),
    } for d in days(1, 22)]).to_csv(ext / "apple" / "daily_activity.csv", index=False)
    pd.DataFrame([{
        "date": d,
        "total_steps": maybe(float(int(rng.normal(8600, 2200)))),
        "total_distance": maybe(round(float(rng.normal(6.0, 1.8)), 3)),
        "total_active_energy": maybe(round(float(rng.normal(490, 130)), 1)),
    } for d in days(2, 28)]).to_csv(ext / "zepp" / "daily_activity.csv", index=False)

    pd.DataFrame([{
        "date": d,
        "med_any": 1,
        "med_event_count": int(rng.integers(1, 5)),
        "med_dose_total": round(float(rng.uniform(10, 80)), 1),
        "med_names": "Methylphenidate, Sertraline",
        "med_sources": "AutoExport",
    } for d in days(2, 25) if d != "2021-05-09"]).to_csv(
        ext / "apple" / "daily_meds_autoexport.csv", index=False)

    pd.DataFrame([{
        "date": d,
        "som_mean_score": round(float(rng.uniform(-0.8, 0.8)), 4),
        "som_last_score": round(float(rng.uniform(-1, 1)), 4),
        "som_n_entries": int(rng.integers(1, 6)),
        "som_category_3class": int(rng.integers(-1, 2)),
        "som_kind_dominant": ["Daily Mood", "Momentary Emotion"][int(rng.integers(0, 2))],
        "som_labels": "Calm, Focused",
        "som_associations": "Work",
    } for d in days(4, 30)]).to_csv(
        ext / "apple" / "daily_som_autoexport.csv", index=False)

    from src.etl.stage_unify_daily import DailyUnifier
    expected = DailyUnifier(extracted_dir=str(ext)).unify_all()

    out_csv = OUT / "engine_unifyall.csv"
    run_engine("unifyall", str(ext), str(out_csv))
    got = pd.read_csv(out_csv)
    return check("unify_all (DailyUnifier, meds+SoM fused)", expected, got)


def zeppjoin_parity():
    """Legacy Zepp consolidation: HR + BODY + HEALTH daily frames through
    the reference's _merge_on_date (zepp_join.py:33-44) vs the engine's
    zeppDailyFeatures fold."""
    rng = np.random.default_rng(42)

    def mk(day_range, cols):
        return pd.DataFrame([
            {"date": f"2024-02-{d:02d}",
             **{c: round(float(rng.normal(50, 10)), 3) for c in cols}}
            for d in day_range])

    hr = mk(range(1, 20), ["zepp_hr_mean", "zepp_hr_median"])
    body = mk(range(5, 25), ["zepp_weight_kg", "zepp_bodyfat_pct"])
    health = mk(range(1, 28, 2), ["zepp_spo2_mean", "zepp_stress_mean"])
    paths = []
    for name, df in [("hr", hr), ("body", body), ("health", health)]:
        p = OUT / f"zj_{name}.csv"
        df.to_csv(p, index=False)
        paths.append(str(p))

    from src.domains.zepp_join import _merge_on_date
    expected = _merge_on_date([hr, body, health])

    out_csv = OUT / "engine_zeppjoin.csv"
    run_engine("zeppjoin", ",".join(paths), str(out_csv))
    got = pd.read_csv(out_csv)
    return check("zepp_join (_merge_on_date: HR+BODY+HEALTH legacy fold)",
                 expected, got)


def ml7prep_parity():
    """ML7 dataset prep: z-feature selection, target kept, anti-leak
    columns excluded — run the actual prepare_ml7_features."""
    from etl.ml7_analysis import prepare_ml7_features

    rng = np.random.default_rng(7)
    n = 60
    zcols = ["z_sleep_total_h", "z_sleep_efficiency", "z_hr_mean",
             "z_hrv_rmssd", "z_hr_max", "z_steps", "z_exercise_min"]
    df = pd.DataFrame({"date": pd.date_range("2024-01-01", periods=n,
                                             freq="D").strftime("%Y-%m-%d")})
    for c in zcols:
        df[c] = np.round(rng.normal(size=n), 6)
    df["label_3cls"] = rng.integers(-1, 2, size=n)
    # anti-leak + raw columns that MUST NOT survive selection
    df["pbsi_score"] = rng.normal(size=n)
    df["sleep_sub"] = rng.normal(size=n)
    df["label_2cls"] = (df["label_3cls"] == 1).astype(int)
    df["hr_mean"] = rng.normal(70, 5, size=n)
    expected = prepare_ml7_features(df).copy()
    in_csv = OUT / "ml7prep_in.csv"
    out_csv = OUT / "ml7prep_out.csv"
    df.to_csv(in_csv, index=False)
    run_engine("ml7prep", str(in_csv), str(out_csv))
    got = pd.read_csv(out_csv)
    return check("ml7_prepare_features (selection + anti-leak)", expected, got)


def folds_parity():
    """M2 exact: the reference's month-based create_calendar_folds —
    anchor scan, end-of-month-clamped month arithmetic, skip rules."""
    from etl.ml7_analysis import create_calendar_folds

    def scenario(name, labels):
        dates = pd.date_range("2023-10-31", periods=600, freq="D")
        df = pd.DataFrame({"date": dates.strftime("%Y-%m-%d"),
                           "label_3cls": labels})
        ref = create_calendar_folds(df, n_folds=6, train_months=4,
                                    val_months=2)
        expected = pd.DataFrame([{
            "fold_id": f["fold"], "train_start": f["train_start"],
            "train_end": f["train_end"], "val_start": f["val_start"],
            "val_end": f["val_end"], "n_train": f["n_train"],
            "n_val": f["n_val"]} for f in ref])
        in_csv = OUT / f"folds_{name}_in.csv"
        out_csv = OUT / f"folds_{name}_out.csv"
        df.to_csv(in_csv, index=False)
        run_engine("folds", str(in_csv), str(out_csv))
        got = pd.read_csv(out_csv)
        return check(f"calendar_folds_monthly ({name})", expected, got)

    # month-END anchor: 2023-10-31 + 4mo clamps to 2024-02-29 and the
    # composed +6mo/+4mo/+2mo chain keeps re-clamping — the arithmetic
    # edge the engine must mirror
    mixed = [(i % 3) - 1 for i in range(600)]
    # 200-day single-class prefix: the >=2-class window scan must advance
    # the anchor off the global minimum date
    prefix = [0] * 200 + [(i % 3) - 1 for i in range(400)]
    # pandas .unique() counts NaN as a class: {0, NaN} windows/train
    # splits have two classes, all-NaN folds have one
    nulls = [0] * 100 + [None] * 500
    return (scenario("month_end_anchor", mixed) &
            scenario("anchor_scan", prefix) &
            scenario("null_labels", nulls))


if __name__ == "__main__":
    ok = (meds_parity() & pbsi_parity() & som_parity() & unify_parity() &
          instability_parity() & zeppsleep_parity() & zepphr_parity() &
          applehr_parity() & applehrv_parity() & applesleep_parity() &
          appleactivity_parity() & unifyall_parity() & autoseg_parity() &
          appleactivityfull_parity() & screentime_parity() & cdaprobe_parity() &
          zeppjoin_parity() & folds_parity() & ml7prep_parity())
    print("reference parity:", "ALL PASS" if ok else "FAILURES")
    sys.exit(0 if ok else 1)
