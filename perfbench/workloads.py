"""The user sessions the benchmark replays, one pass at a time.

A pass is one user's click path through the public API.  Every call into a
layer is a *step*: the benchmark times the call that returns the (lazy)
DataFrame as ``build`` and the action that makes it run as ``exec``, under
a Spark job group named after the step, so a traced run can attribute jobs
and tasks to it.  Output checks run after the timed region and compare with
the generator's ground truth; a step that raises or fails its check counts
as a failed operation.
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq

import gen

DQ_STEPS = [
    "session.ingest",
    "profile.profile_columns",
    "profile.null_profile",
    "rules.evaluate_rules",
    "repair.chain",
    "rules.evaluate_rules_repaired",
    "enrich.enrich_gender",
    "workbench.report",
    "session.write_dataset",
]
DEDUP_STEPS = ["dedup.minhash_dedup_pairs", "dedup.connected_components"]
# which timed parts each step has: repair only builds lineage, and
# write_dataset is one call that both plans and runs the write
STEP_PARTS = {s: ("build", "exec") for s in DQ_STEPS + DEDUP_STEPS}
STEP_PARTS["repair.chain"] = ("build",)
STEP_PARTS["session.write_dataset"] = ("exec",)

RECALL_FLOOR = 0.95  # share of injected near-duplicate pairs dedup must find


class CheckFailed(Exception):
    pass


def expect(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


class Pass:
    """Times the steps of one pass and counts its operations."""

    def __init__(self, sc, index: int, log):
        self.sc = sc
        self.index = index
        self.log = log
        self.times: dict[str, tuple[float, float]] = {}
        self.attempted = 0
        self.failed = 0

    def step(self, name, build, action=None, check=None):
        """Run one operation; returns the built object (None on failure)."""
        self.attempted += 1
        self.sc.setJobGroup(f"{name}#{self.index}", name)
        try:
            t0 = time.perf_counter()
            obj = build()
            t1 = time.perf_counter()
            out = action(obj) if action is not None else None
            t2 = time.perf_counter()
            self.times[name] = (t1 - t0, t2 - t1)
            if check is not None:
                check(obj, out)
            return obj
        except Exception as e:  # noqa: BLE001 -- one failed op, keep going
            self.failed += 1
            self.log(f"pass {self.index}: {name} failed: {type(e).__name__}: {e}")
            return None
        finally:
            self.sc.setJobGroup("untimed", "untimed")

    @property
    def total(self) -> float:
        return sum(b + e for b, e in self.times.values())


def _by_key(rows, key, *fields):
    return {r[key]: tuple(r[f] for f in fields) for r in rows}


def dq_pass(spark, p: Pass, paths: dict, truth: dict, out_dir: str) -> None:
    """profile -> detect -> repair -> re-detect -> enrich -> report ->
    download on the customer table, as a Workbench user clicks it."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from dataqtor_spark import session as S
    from dataqtor_spark.operators import enrich as EN
    from dataqtor_spark.operators import rules as R
    from dataqtor_spark.workbench import Workbench

    n = truth["rows"]
    nulls = truth["nulls"]
    exp = truth["expected"]
    cols = [c for c in gen.CUSTOMER_COLUMNS]

    def rules():
        return [R.rule_email("email"), R.rule_phone_tr("phone"),
                R.rule_tcid("tcid"), R.rule_domain("city")]

    def check_nulls(_, rows):
        got = _by_key(rows, "column", "total_records", "null_records")
        expect(set(got) == set(cols), f"profiled columns {sorted(got)}")
        for c in cols:
            expect(got[c] == (n, nulls.get(c, 0)),
                   f"{c}: total/nulls {got[c]} != {(n, nulls.get(c, 0))}")

    def check_detect(which):
        def check(_, rows):
            got = _by_key(rows, "rule", "null_records", "out_of_format_records")
            want = {r: tuple(v) for r, v in exp[which].items()}
            expect(got == want, f"detect {which}: {got} != {want}")
        return check

    df = p.step("session.ingest",
                lambda: S.ingest(spark, paths["customers"]),
                lambda d: d.count(),
                lambda _, c: expect(c == n, f"ingest count {c} != {n}"))
    if df is None:
        return
    wb = Workbench(df)
    p.step("profile.profile_columns", wb.profile, lambda d: d.collect(), check_nulls)
    p.step("profile.null_profile", wb.null_profile, lambda d: d.collect(), check_nulls)
    p.step("rules.evaluate_rules", lambda: wb.detect(rules()),
           lambda d: d.collect(), check_detect("before"))
    p.step("repair.chain",
           lambda: (wb.strip_chars("email").title_case("city")
                    .find_replace("phone", " ", "none")
                    .fill_nulls("city", gen.CITY_FILL)),
           check=lambda w, _: expect(w.df.columns == df.columns, "repair changed the schema"))
    p.step("rules.evaluate_rules_repaired", lambda: wb.detect(rules()),
           lambda d: d.collect(), check_detect("after"))

    obs = Observation(f"enrich_{p.index}")

    def enrich():
        e = EN.enrich_date_parts(EN.enrich_gender(wb.df, "first_name"), "birth_date")
        return e.observe(obs, F.count(F.lit(1)).alias("n"),
                         F.sum("Year_birth_date").alias("years"),
                         F.count("Gender_first_name").alias("matched"))

    def check_enrich(_, __):
        got = obs.get
        want = {"n": n, "years": truth["birth_year_sum"],
                "matched": truth["gender_matched"]}
        expect(got == want, f"enrich {got} != {want}")

    p.step("enrich.enrich_gender", enrich,
           lambda d: d.write.format("noop").mode("overwrite").save(), check_enrich)

    def check_report(_, rows):
        want = [(m, r, *exp[w][r]) for m, w in enumerate(["before", "after"])
                for r in gen.RULES]
        got = sorted((r["measurement"], r["rule"], r["null_records"],
                      r["out_of_format_records"]) for r in rows)
        expect(got == sorted(want), f"report {got} != {sorted(want)}")

    p.step("workbench.report", wb.report, lambda d: d.collect(), check_report)

    dest = os.path.join(out_dir, f"clean-{p.index}.parquet")

    def check_written(_, __):
        files = [os.path.join(dest, f) for f in os.listdir(dest) if f.endswith(".parquet")]
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        expect(rows == n, f"wrote {rows} rows != {n}")
        schema = pq.read_schema(files[0]).names
        expect(S.ROW_ID not in schema, "row id leaked into the download")

    p.step("session.write_dataset", lambda: None,
           lambda _: S.write_dataset(wb.df, dest), check_written)


def components(pairs) -> tuple[int, int]:
    """(nodes, connected components) of an edge set, by union-find: the
    reference the engine's clustering must reproduce on its own pairs."""
    parent: dict = {}

    def root(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[root(a)] = root(b)
    return len(parent), sum(1 for x in parent if root(x) == x)


def dedup_pass(spark, p: Pass, paths: dict, truth: dict, seen: dict) -> None:
    """Near-duplicate pairs -> clusters -> survivor count on the corpus.

    ``seen`` carries the first pass's pair and component counts so every
    later pass must reproduce them exactly."""
    from pyspark.sql import functions as F

    from dataqtor_spark.operators import dedup as D

    docs = spark.read.parquet(paths["docs"])
    injected = {tuple(x) for x in truth["injected_pairs"]}

    def check_pairs(_, rows):
        got = {(min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"])) for r in rows}
        recall = len(got & injected) / len(injected)
        expect(recall >= RECALL_FLOOR, f"pair recall {recall:.4f} < {RECALL_FLOOR}")
        expect(seen.setdefault("pairs", len(got)) == len(got),
               f"pair count {len(got)} != first pass {seen['pairs']}")
        seen["found"] = got

    pairs = p.step("dedup.minhash_dedup_pairs",
                   lambda: D.minhash_dedup_pairs(docs, "doc_id", "text"),
                   lambda d: d.collect(), check_pairs)
    if pairs is None:
        return

    def survivors(comp):
        r = comp.agg(F.count(F.lit(1)).alias("members"),
                     F.count_distinct("component").alias("components")).collect()[0]
        return r["members"], r["components"]

    def check_cc(_, out):
        members, comps = out
        expect(seen.setdefault("components", comps) == comps,
               f"component count {comps} != first pass {seen['components']}")
        want = components(seen["found"])
        expect((members, comps) == want,
               f"(members, components) {(members, comps)} != {want} from the pairs")

    p.step("dedup.connected_components",
           lambda: D.connected_components(pairs.select("id_a", "id_b")),
           survivors, check_cc)
