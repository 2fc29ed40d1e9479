"""Correctness checks for the benchmark, run with DuckDB.

registry(...)  compares each registry query's output, as the harness
               wrote it with the gate's total order, with its
               SparkEntry.oracleSql statement run over the same tables.
clinical(...)  compares each presented pipeline output with a DuckDB
               restatement of the pipeline over the same CSVs: the
               bug-compatible weight diff leads over the whole frame, the
               strict one is partitioned by UID.

Expected results are cached as parquet, keyed by the SQL text and the
input directory, so repeated runs on the same inputs only read them.
Both return {name: problem} for the ops that did not match.
"""
import glob
import hashlib
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].apply(
                lambda v: str(list(v)) if isinstance(v, np.ndarray)
                else str(v) if isinstance(v, (list, dict)) else v)
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _kind(dtype):
    for k, t in (("float", np.floating), ("int", np.integer), ("bool", np.bool_)):
        if np.issubdtype(dtype, t):
            return k
    return "other"


def compare(got, exp):
    """'' when the frames hold the same rows, else what differs. Floats
    must match exactly, as in the repository's oracle gate: both sides
    round their float columns in SQL.
    """
    got, exp = _canon(got), _canon(exp)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    for c in got.columns:
        if _kind(got[c].dtype) != _kind(exp[c].dtype):
            return f"{c}: dtype {got[c].dtype} vs {exp[c].dtype}"
        if _kind(got[c].dtype) == "float":
            g, e = got[c].astype(float).values, exp[c].astype(float).values
            same = (g == e) | (np.isnan(g) & np.isnan(e))
        else:
            same = (got[c].fillna("<null>").astype(str).values
                    == exp[c].fillna("<null>").astype(str).values)
        if not same.all():
            return f"{c}: {int((~same).sum())} cells differ"
    return ""


def _spark_output(out_dir, name):
    files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
    if not files:
        return None
    return pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)


def _expected(con, sql, cache_dir, tag):
    key = hashlib.sha256(f"{tag}\n{sql}".encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, f"{key}.parquet")
    if os.path.exists(path):
        return pq.read_table(path).to_pandas()
    tbl = con.execute(sql).arrow()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    pq.write_table(tbl, tmp)
    os.replace(tmp, path)
    return tbl.to_pandas()


def _connect(tmp_dir):
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute("SET threads = 2")
    con.execute("SET enable_progress_bar = false")
    return con


def registry(out_dir, data_dir, oracle_sql, cache_dir, tmp_dir):
    """oracle_sql: {op name: SparkEntry.oracleSql statement}."""
    con = _connect(tmp_dir)
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    bad = {}
    for name, sql in oracle_sql.items():
        got = _spark_output(out_dir, name)
        if got is None:
            bad[name] = "no output"
            continue
        try:
            exp = _expected(con, sql, cache_dir, data_dir)
            problem = compare(got, exp)
        except Exception as e:  # a broken oracle or output fails this op only
            problem = f"{type(e).__name__}: {e}"
        if problem:
            bad[name] = problem
    return bad


USERS_COLS = ("{'UID': 'VARCHAR', 'Name': 'VARCHAR', 'LastName': 'VARCHAR', "
              "'Gender': 'VARCHAR', 'Unit': 'BIGINT', 'Birthday': 'TIMESTAMP', "
              "'Age': 'BIGINT', 'Height': 'BIGINT', 'CreatedDate': 'TIMESTAMP', "
              "'IsActive': 'BOOLEAN', 'ClinicID': 'BIGINT', 'loginId': 'DOUBLE', "
              "'success': 'BOOLEAN'}")
WEIGHTS_COLS = ("{'MasterUserID': 'VARCHAR', 'Weight': 'DOUBLE', 'BMI': 'DOUBLE', "
                "'BodyFat': 'DOUBLE', 'BodyWater': 'DOUBLE', 'Bone': 'DOUBLE', "
                "'VisceralFat': 'DOUBLE', 'BMR': 'DOUBLE', 'MuscleMass': 'DOUBLE', "
                "'CreatedDate': 'TIMESTAMP', 'UpdatedDate': 'TIMESTAMP', "
                "'IsActive': 'BOOLEAN', 'IsDelete': 'BOOLEAN'}")
TREATMENTS_COLS = ("{'MasterUserID': 'VARCHAR', 'TreatmentTypeID': 'BIGINT', "
                   "'StartDate': 'TIMESTAMP'}")
SIX_KEYS = ("ORDER BY UID ASC NULLS LAST, UIDCreatedDate ASC NULLS LAST, "
            "TreatmentTypeID ASC NULLS LAST, Tmt_StartDate ASC NULLS LAST, "
            "Wts_CreatedDate ASC NULLS LAST, Wts_UpdatedDate ASC NULLS LAST")
FULL = "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"


def clinical_sql(csv_dir, cohort, gender, min_age, max_age, clinic, strict):
    """The reference pipeline (pandas_DataModel.py) restated in SQL."""
    def read(name, cols):
        return (f"read_csv('{csv_dir}/{name}.csv', header = true, columns = {cols}, "
                f"timestampformat = '%Y-%m-%d %H:%M:%S')")
    days = ("CAST(floor((epoch_us(Wts_CreatedDate) - epoch_us(Tmt_StartDate)) "
            "/ 86400000000.0) AS BIGINT)")
    keys = f"UID, TreatmentTypeID, Tmt_StartDate, {cohort}"
    gender_sql = "TRUE" if gender == "all" else f"Gender = '{gender}'"
    return f"""
WITH joined AS (
  SELECT u.UID, u.Name, u.LastName, u.Gender, u.Age, u.ClinicID,
         u.CreatedDate AS UIDCreatedDate, w.Weight,
         w.CreatedDate AS Wts_CreatedDate, w.UpdatedDate AS Wts_UpdatedDate,
         t.TreatmentTypeID, t.StartDate AS Tmt_StartDate
  FROM {read('users', USERS_COLS)} u
  LEFT JOIN {read('weights', WEIGHTS_COLS)} w ON u.UID = w.MasterUserID
  LEFT JOIN {read('treatments', TREATMENTS_COLS)} t ON u.UID = t.MasterUserID),
derived AS (
  SELECT *, CAST(floor({days} / 7.0) AS INT) AS week,
            CAST(floor({days} / 30.417) AS INT) AS month
  FROM joined),
fw AS (
  SELECT *,
    count(Wts_UpdatedDate) OVER (PARTITION BY {keys}) AS WIR,
    first_value(Weight IGNORE NULLS) OVER (PARTITION BY UID {SIX_KEYS} {FULL}) AS PSW,
    first_value(Weight IGNORE NULLS) OVER (PARTITION BY UID, TreatmentTypeID, Tmt_StartDate {SIX_KEYS} {FULL}) AS TSW,
    last_value(Weight IGNORE NULLS) OVER (PARTITION BY UID, TreatmentTypeID, Tmt_StartDate {SIX_KEYS} {FULL}) AS TEW,
    first_value(Weight IGNORE NULLS) OVER (PARTITION BY {keys} {SIX_KEYS} {FULL}) AS cohort_fw
  FROM derived),
diffed AS (
  SELECT *, cohort_fw - lead(cohort_fw) OVER ({'PARTITION BY UID' if strict else ''} {SIX_KEYS}) AS wgt_diff
  FROM fw),
final AS (
  SELECT *, max(wgt_diff) OVER (PARTITION BY {keys}) AS patient_TBWL,
         TEW - TSW AS treatment_TBWL
  FROM diffed)
SELECT UID, Name, LastName, Gender, Age, ClinicID, week, month, WIR,
       round(PSW, 6) AS PSW, round(TSW, 6) AS TSW,
       round(patient_TBWL, 6) AS patient_TBWL, round(treatment_TBWL, 6) AS treatment_TBWL
FROM (SELECT DISTINCT * FROM final
      WHERE {gender_sql} AND Age BETWEEN {min_age} AND {max_age} AND ClinicID = {clinic})
"""


def clinical(out_dir, csv_dir, configs, cache_dir, tmp_dir):
    """configs: {op name: (cohort, gender, min_age, max_age, clinic, strict)}."""
    con = _connect(tmp_dir)
    bad = {}
    for name, cfg in configs.items():
        got = _spark_output(out_dir, name)
        if got is None:
            bad[name] = "no output"
            continue
        for c in ("PSW", "TSW", "patient_TBWL", "treatment_TBWL"):
            got[c] = got[c].round(6)
        try:
            exp = _expected(con, clinical_sql(csv_dir, *cfg), cache_dir, csv_dir)
            problem = compare(got, exp)
        except Exception as e:
            problem = f"{type(e).__name__}: {e}"
        if problem:
            bad[name] = problem
    return bad
