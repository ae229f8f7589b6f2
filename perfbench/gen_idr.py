"""Seeded generator of synthetic IDR extracts for the reference DAG
(load -> covid/hts/mmd -> vls), shaped after FIXTURES.md A1-A5.

Writes one parquet directory per lake extract (`covid`, `hts`, `mmd`, `vls`,
`MFL_Codes`, `hub_details`) under OUT/lake, and OUT/expected.json with:
  - `arms`: how many input rows hit each CASE arm / join-drop path the
    fixtures enumerate (the generator fails if any is 0);
  - `tables`: output facts the DAG must reproduce for any seed (row counts
    of covid, hts, art_mmd, vls, art_mmd_vls and the hts_summary_counts row).

    python3 perfbench/gen_idr.py --patients 20000 --seed 1 --out DIR
"""
import argparse
import json
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

AS_OF = "2024-06-01"  # the DAG's fixed as-of date (MmdPipeline / VlsPipeline)
TRANSFER_SHARE = 0.01  # patients seen at a second facility under the same ccc
ENTRYPOINTS = [
    "CCC (comprehensive care center)", "CCC", "OPD (outpatient department)",
    "Out Patient Department(OPD)", "VCT center", "VCT",
    "Home based HIV testing program", "In Patient Department(IPD)",
    "INPATIENT CARE OR HOSPITALIZATION", "PMTCT ANC", "PMTCT MAT",
    "PMTCT Program", "PMTCT PNC", "OTHER NON-CODED", "mobile VCT program",
    "Tuberculosis treatment program", "OB/GYN department"]
ENTRY_ARM = {
    "CCC (comprehensive care center)": "CCC", "CCC": "CCC",
    "OPD (outpatient department)": "OPD", "Out Patient Department(OPD)": "OPD",
    "VCT center": "VCT", "VCT": "VCT",
    "Home based HIV testing program": "Home Based Testing",
    "In Patient Department(IPD)": "IPD",
    "INPATIENT CARE OR HOSPITALIZATION": "IPD", "PMTCT ANC": "PMTCT",
    "PMTCT MAT": "PMTCT", "PMTCT Program": "PMTCT", "PMTCT PNC": "PMTCT",
    "OTHER NON-CODED": "Other", "mobile VCT program": "mobile VCT program",
    "Tuberculosis treatment program": "Tuberculosis treatment program",
    "OB/GYN department": "OB/GYN department"}
REGIMEN_LINES = ["First line", "Second line", "Third line", "Fourth line"]
VACCINES = ["AstraZeneca", "Pfizer", "Moderna", "Johnson"]


def _dates(rng, lo, hi, n):
    d0 = np.datetime64(lo, "D").astype("int64")
    d1 = np.datetime64(hi, "D").astype("int64")
    return rng.integers(d0, d1 + 1, n)


def _iso(days):
    return np.datetime_as_string(np.asarray(days).astype("datetime64[D]"))


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _nullify(rng, arr, share):
    out = np.asarray(arr, dtype=object).copy()
    out[rng.random(len(out)) < share] = None
    return out


def _write(lake, name, df, schema=None):
    os.makedirs(os.path.join(lake, name), exist_ok=True)
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table.replace_schema_metadata(None),
                   os.path.join(lake, name, "part-00000.parquet"))


def _strings(df):
    return pa.schema([(c, pa.string()) for c in df.columns])


def generate(patients, seed, out):
    rng = np.random.default_rng(seed)
    p = patients
    n_fac = max(10, p // 200)
    sites = 10_000 + np.arange(n_fac)
    # ~3% of fact sites are missing from MFL, and MFL has 5% extra sites
    # no fact mentions (both inner-join drop paths); ~5% of MFL sites have
    # no hub row (the mmd hub join drops them)
    unlisted = rng.choice(n_fac, max(1, n_fac * 3 // 100), replace=False)
    mfl_sites = np.concatenate([np.delete(sites, unlisted),
                                20_000 + np.arange(max(1, n_fac // 20))])
    hub_sites = np.delete(mfl_sites, rng.choice(len(mfl_sites), max(1, len(mfl_sites) // 20),
                                                replace=False))
    mfl = pd.DataFrame({
        "SiteCode": mfl_sites.astype("int64"),
        "officialname": [f"Facility {s}" for s in mfl_sites],
        "county_name": [f"County {s % 47}" for s in mfl_sites],
        "constituency_name": [f"Constituency {s % 290}" for s in mfl_sites],
        "sub_county_name": [f"SubCounty {s % 300}" for s in mfl_sites],
        "ward_name": [f"Ward {s % 1450}" for s in mfl_sites],
        "lat": np.round(rng.uniform(-4.5, 4.5, len(mfl_sites)), 6),
        "long": np.round(rng.uniform(34.0, 41.5, len(mfl_sites)), 6)})
    hub = pd.DataFrame({"MFL_Code": hub_sites.astype("int64"),
                        "Hub": [f"Hub {s % 40}" for s in hub_sites]})

    pid = np.arange(p)
    home = sites[rng.integers(0, n_fac, p)]
    ccc = np.array([f"CCC{i:07d}" for i in pid], dtype=object)
    gender = _pick(rng, ["M", "F"], p)
    dob = _iso(_dates(rng, "1950-01-01", "2010-12-31", p))
    age = (2024 - dob.astype("datetime64[Y]").astype(int) - 1970).astype(str)
    transfer = pid[rng.random(p) < TRANSFER_SHARE]
    other_site = sites[(np.searchsorted(sites, home[transfer]) + 1
                        + rng.integers(0, n_fac - 1, len(transfer))) % n_fac]

    # ---- covid (A1): one row per patient plus 5% exact duplicate rows
    n = p
    status = _pick(rng, ["Fully Vaccinated", "Partially Vaccinated", "Not Vaccinated"], n)
    covid = pd.DataFrame({
        "MFL_code": home.astype(str), "Facilty_Name": [f"Facility {s}" for s in home],
        "ccc_number": ccc, "phone_number": [f"07{x:08d}" for x in rng.integers(0, 10**8, n)],
        "id_number": [f"{x:08d}" for x in rng.integers(0, 10**8, n)],
        "DOB": dob, "ageInYears": age, "Gender": gender,
        "visit_date": _iso(_dates(rng, "2021-03-01", "2022-12-31", n)),
        "Ever_Vaccinated": _pick(rng, ["Yes", "No"], n),
        "First_Vaccine": _nullify(rng, _pick(rng, VACCINES, n), 0.2),
        "First_Vaccination_Verified": _pick(rng, ["Yes", "No"], n),
        "first_dose_date": _iso(_dates(rng, "2021-03-01", "2021-12-31", n)),
        "Second_Vaccine": _nullify(rng, _pick(rng, VACCINES, n), 0.4),
        "Second_Vaccination_Verified": _pick(rng, ["Yes", "No"], n),
        "second_dose_date": _iso(_dates(rng, "2021-06-01", "2022-06-30", n)),
        "Final_Vaccination_Status": status,
        "Ever_recieved_Booster": _pick(rng, ["Yes", "No"], n),
        "Booster_Vaccine": _nullify(rng, _pick(rng, VACCINES, n), 0.6)})
    covid = pd.concat([covid, covid.iloc[np.sort(rng.choice(n, n // 20, replace=False))]],
                      ignore_index=True)

    # ---- hts (A2): one test per patient
    entry = _pick(rng, ENTRYPOINTS + ["Weird Entry", None], p)
    tested = _dates(rng, "2023-01-01", "2023-12-31", p)
    lag_kind = rng.choice(5, p, p=[0.2, 0.25, 0.2, 0.1, 0.25])
    lag = np.select([lag_kind == 0, lag_kind == 1, lag_kind == 2, lag_kind == 3],
                    [0, rng.integers(1, 15, p), rng.integers(15, 120, p), -rng.integers(1, 30, p)], 0)
    art_start = np.where(lag_kind == 4, None, _iso(tested + lag)).astype(object)
    final = _pick(rng, ["Positive", "Negative"], p, p=[0.3, 0.7])
    yn = lambda: _pick(rng, ["Yes", "No"], p)  # noqa: E731
    hts = pd.DataFrame({
        "SiteCode": home.astype(str), "CccNumber": ccc,
        "PatientId": [f"P{i}" for i in pid], "DOB": dob, "Gender": gender,
        "ageInYears": age, "EntryPoint": entry, "Consent": yn(),
        "ClientTestedAs": _pick(rng, ["Individual", "Couple"], p),
        "TestStrategy": _pick(rng, ["HP", "NP", "VI", "VS"], p),
        "TestResult1": final, "TestResult2": final, "FinalTestResult": final,
        "TestDate": _iso(tested), "PatientGivenResult": yn(),
        "FacilityLinked": home.astype(str), "art_start_date": art_start,
        "EverTestedForHiv": yn(), "MonthsSinceLastTest": rng.integers(0, 36, p).astype(str),
        "TbScreening": _pick(rng, ["No TB", "Presumed TB", "On TB Treatment"], p),
        "ClientSelfTested": yn(), "CoupleDiscordant": yn(),
        "TestType": _pick(rng, ["Initial", "Repeat"], p)})

    # ---- mmd (A3): one row per (site, patient), transfers add a second
    # site, and ~half the groups get a second row with differing values
    m_site = np.concatenate([home, other_site])
    m_pid = np.concatenate([pid, transfer])
    dup = np.sort(rng.choice(len(m_pid), len(m_pid) // 2, replace=False))
    m_site, m_pid = np.concatenate([m_site, m_site[dup]]), np.concatenate([m_pid, m_pid[dup]])
    n = len(m_pid)
    last_art = _dates(rng, "2023-06-01", "2024-05-31", n)
    start_art = _dates(rng, "2010-01-01", "2023-05-31", n)
    expected_return = np.datetime64(AS_OF, "D").astype("int64") + rng.integers(-120, 120, n)
    mmd_dob = dob[m_pid].astype(object)
    mmd_dob[rng.random(n) < 0.03] = "None"
    mmd = pd.DataFrame({
        "DOB": mmd_dob, "Gender": gender[m_pid],
        "weight": np.round(rng.uniform(35.0, 110.0, n), 1).astype(str),
        "height": np.round(rng.uniform(140.0, 195.0, n), 1).astype(str),
        "CCC": ccc[m_pid], "PatientPK": m_pid.astype(str),
        "NationalID": [f"{x:08d}" for x in rng.integers(0, 10**8, n)],
        "AgeEnrollment": rng.integers(1, 80, n).astype(str),
        "AgeARTStart": rng.integers(1, 80, n).astype(str),
        "AgeLastVisit": rng.integers(1, 90, n).astype(str),
        "SiteCode": m_site.astype(str), "FacilityName": [f"Facility {s}" for s in m_site],
        "RegistrationDate": _iso(start_art - 30),
        "PatientSource": _pick(rng, ["OPD", "VCT", "MCH", "TB Clinic"], n),
        "PreviousARTStartDate": _iso(start_art - 400),
        "StartARTAtThisFAcility": _iso(start_art),
        "StartARTDate": _iso(start_art),
        "PreviousARTUse": _pick(rng, ["Yes", "No"], n),
        "PreviousARTPurpose": _pick(rng, ["PMTCT", "PEP", "None"], n),
        "PreviousARTRegimen": _pick(rng, ["AF2B", "TDF/3TC/EFV", "None"], n),
        "DateLastUsed": _iso(start_art - 10),
        "StartRegimen": _pick(rng, ["TDF/3TC/DTG", "AZT/3TC/NVP"], n),
        "StartRegimenLine": _pick(rng, REGIMEN_LINES, n),
        "LastARTDate": _iso(last_art),
        "LastRegimen": _pick(rng, ["TDF/3TC/DTG", "AZT/3TC/LPV/r"], n),
        "LastRegimenLine": _pick(rng, REGIMEN_LINES, n),
        "ExpectedReturn": _iso(expected_return), "LastVisit": _iso(last_art),
        "Duration": rng.integers(14, 181, n).astype(str),
        "ExitDate": np.where(rng.random(n) < 0.08, _iso(last_art + 20), "None").astype(object),
        "ExitReason": _pick(rng, ["Died", "Transfer out", "None"], n, p=[0.03, 0.05, 0.92]),
        "Date_Created": [f"{d} 08:00:00" for d in _iso(start_art)],
        "Date_Last_Modified": [f"{d} 17:30:00" for d in _iso(last_art)]})

    # ---- vls (A4): 1-5 tests per (site, patient) incl. transfer sites
    v_site = np.concatenate([home, other_site])
    v_pid = np.concatenate([pid, transfer])
    reps = rng.integers(1, 6, len(v_pid))
    v_site, v_pid = np.repeat(v_site, reps), np.repeat(v_pid, reps)
    n = len(v_pid)
    result_kind = rng.choice(3, n, p=[0.35, 0.3, 0.35])
    result = np.select([result_kind == 0, result_kind == 1],
                       ["LDL", rng.integers(20, 1000, n).astype(str)],
                       rng.integers(1000, 200_000, n).astype(str)).astype(object)
    received = _dates(rng, "2023-01-01", "2024-05-31", n)
    vls = pd.DataFrame({
        "Mfl_code": _nullify(rng, v_site.astype(str), 0.005),
        "ccc_number": _nullify(rng, ccc[v_pid], 0.005),
        "Gender": gender[v_pid], "DOB": dob[v_pid], "ageInYears": age[v_pid],
        "date_test_requested": _iso(received - rng.integers(1, 30, n)),
        "date_test_result_received": _iso(received),
        "lab_test": _pick(rng, ["VIRAL LOAD", "CD4"], n, p=[0.9, 0.1]),
        "urgency": _pick(rng, ["Routine", "Urgent"], n),
        "order_reason": _pick(rng, ["Baseline", "Routine", "Confirmation"], n),
        "test_result": result})

    lake = os.path.join(out, "lake")
    for name, df in [("covid", covid), ("hts", hts), ("mmd", mmd), ("vls", vls)]:
        _write(lake, name, df, _strings(df))
    _write(lake, "MFL_Codes", mfl)
    _write(lake, "hub_details", hub)

    arms = count_arms(covid, hts, mmd, vls, set(mfl_sites), len(transfer))
    facts = expected_tables(covid, hts, mmd, vls, set(mfl_sites), set(hub_sites))
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump({"patients": patients, "seed": seed, "as_of": AS_OF,
                   "rows": {"covid": len(covid), "hts": len(hts), "mmd": len(mmd),
                            "vls": len(vls), "MFL_Codes": len(mfl), "hub_details": len(hub)},
                   "arms": arms, "tables": facts}, f, indent=1, sort_keys=True)
    return arms


def count_arms(covid, hts, mmd, vls, mfl_sites, n_transfer):
    fact_sites = set(pd.concat([covid.MFL_code, hts.SiteCode, mmd.SiteCode]).astype(int))
    arms = {
        "covid.exact_duplicate_rows": int(covid.duplicated().sum()),
        "mfl.sites_absent_from_facts": len(mfl_sites - fact_sites),
        "facts.sites_absent_from_mfl": len(fact_sites - mfl_sites),
        "covid.booster_shot": int(((covid.Final_Vaccination_Status == "Fully Vaccinated")
                                   & (covid.Ever_recieved_Booster == "Yes")).sum()),
        "covid.null_vaccine": int(covid[["First_Vaccine", "Second_Vaccine",
                                         "Booster_Vaccine"]].isna().any(axis=1).sum()),
        "hts.entrypoint_unknown": int((hts.EntryPoint == "Weird Entry").sum()),
        "hts.entrypoint_null": int(hts.EntryPoint.isna().sum()),
    }
    for arm in sorted(set(ENTRY_ARM.values())):
        arms[f"hts.entrypoint.{arm}"] = int(hts.EntryPoint.map(ENTRY_ARM).eq(arm).sum())
    lag = _linkage_days(hts)
    arms.update({
        "hts.linkage_same_day": int((lag == 0).sum()),
        "hts.linkage_1_14": int(((lag > 0) & (lag < 15)).sum()),
        "hts.linkage_over_14": int((lag > 14).sum()),
        "hts.linkage_negative": int((lag < 0).sum()),
        "hts.linkage_null": int(lag.isna().sum())})
    groups = mmd.groupby(["SiteCode", "CCC"]).nunique()
    arms["mmd.duplicate_groups_differing"] = int((groups.weight > 1).sum())
    for line in REGIMEN_LINES:
        arms[f"mmd.regimen.{line}"] = int((mmd.LastRegimenLine == line).sum())
    arms["mmd.died"] = int((mmd.ExitReason == "Died").sum())
    arms["mmd.none_string"] = int((mmd.DOB == "None").sum())
    er = pd.to_datetime(mmd.ExpectedReturn)
    as_of = pd.Timestamp(AS_OF)
    arms["mmd.expected_return_before_as_of"] = int((er < as_of).sum())
    arms["mmd.expected_return_after_as_of"] = int((er >= as_of).sum())
    num = pd.to_numeric(vls.test_result, errors="coerce")
    arms["vls.ldl"] = int((vls.test_result == "LDL").sum())
    arms["vls.load_below_1000"] = int((num < 1000).sum())
    arms["vls.load_at_least_1000"] = int((num >= 1000).sum())
    arms["vls.not_viral_load"] = int((vls.lab_test != "VIRAL LOAD").sum())
    arms["vls.null_mfl_code"] = int(vls.Mfl_code.isna().sum())
    arms["vls.null_ccc_number"] = int(vls.ccc_number.isna().sum())
    arms["vls.ccc_at_two_facilities"] = n_transfer
    # the Valid + >=1000 NULL branch: a recent high load for a patient whose
    # latest expected return is within 31 days of as-of and who did not die
    recent = pd.to_datetime(vls.date_test_result_received) > as_of - pd.Timedelta(days=366)
    alive = mmd.groupby("CCC").agg(er=("ExpectedReturn", "max"), died=("ExitReason",
                                   lambda s: (s == "Died").any()))
    current = alive[(as_of - pd.to_datetime(alive.er)).dt.days.lt(31) & ~alive.died].index
    arms["vls.valid_and_at_least_1000"] = int((recent & (num >= 1000)
                                               & vls.ccc_number.isin(current)).sum())
    return arms


def _linkage_days(hts):
    return (pd.to_datetime(hts.art_start_date) - pd.to_datetime(hts.TestDate)).dt.days


def expected_tables(covid, hts, mmd, vls, mfl_sites, hub_sites):
    """Output facts of the DAG derived from its inputs alone."""
    covid_out = covid.drop_duplicates()
    covid_out = covid_out[covid_out.MFL_code.astype(int).isin(mfl_sites)]
    hts_out = hts.drop_duplicates()
    hts_out = hts_out[hts_out.SiteCode.astype(int).isin(mfl_sites)]
    pos = hts_out[hts_out.FinalTestResult == "Positive"]
    lag = _linkage_days(pos)
    summary = [len(pos), int((lag == 0).sum()), int(((lag > 0) & (lag < 15)).sum()),
               int((lag > 14).sum()), int((lag < 0).sum()), int(lag.isna().sum())]
    art = mmd[["SiteCode", "CCC"]].drop_duplicates()
    art = art[art.SiteCode.astype(int).isin(mfl_sites & hub_sites)]
    vl = vls.drop_duplicates()
    vl = vl[vl.ccc_number.notna() & vl.Mfl_code.notna() & (vl.lab_test == "VIRAL LOAD")]
    recent = (vl.groupby(["Mfl_code", "ccc_number"]).date_test_result_received.max()
              .rename("results_date").reset_index())
    single = recent.merge(vl[["ccc_number", "date_test_result_received"]], on="ccc_number")
    single = single[single.results_date == single.date_test_result_received]
    per_ccc = single.groupby("ccc_number").size()
    art_vls = int(art.CCC.map(per_ccc).fillna(0).clip(lower=1).sum())
    return {"covid": len(covid_out), "hts": len(hts_out), "hts_summary": len(pos),
            "hts_summary_counts": summary, "art_mmd": len(art), "vls": len(single),
            "art_mmd_vls": art_vls}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--patients", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    arms = generate(a.patients, a.seed, a.out)
    width = max(map(len, arms))
    for k in sorted(arms):
        print(f"{k:<{width}}  {arms[k]}", file=sys.stderr)
    empty = sorted(k for k, v in arms.items() if v == 0)
    if empty:
        sys.exit(f"gen_idr: no input rows hit {', '.join(empty)}")


if __name__ == "__main__":
    main()
