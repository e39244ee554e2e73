"""Driver-contract guards: the artifacts the driver builds (bench,
correctness) must never break on a name mismatch — a bad key here is a
whole-artifact failure (r3's lesson), caught for pennies at test time."""

from __future__ import annotations

import __spark_entry__ as entrymod
from bench import BENCH_QUERIES


def test_bench_queries_all_registered():
    qs = entrymod.queries()
    missing = [n for n in BENCH_QUERIES if n not in qs]
    assert not missing, f"bench names not in queries(): {missing}"


def test_oracle_keys_subset_of_queries():
    qs = entrymod.queries()
    stray = [n for n in entrymod.oracle_sql() if n not in qs]
    assert not stray, f"oracle entries without a query: {stray}"


def test_oracle_coverage_is_total():
    """EVERY registered query has a DuckDB oracle — since r4 even the ANN
    path (its md5-derived LSH pipeline is deterministic end-to-end, so the
    oracle mirrors it bit-for-bit).  A query landing here without an
    oracle is a deliberate, documented act — not a default."""
    qs = set(entrymod.queries())
    no_oracle = qs - set(entrymod.oracle_sql())
    assert no_oracle == set(), no_oracle


DRIVER_WINDOW = 50  # the driver's correctness harness checks this many


def _current_round() -> int:
    """The round about to run = latest committed CORRECTNESS round + 1.
    Non-numeric strays (CORRECTNESS_rX.json) are skipped, not crashed on
    — same contract as _only_driver_commits_after."""
    import glob
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rounds = []
    for f in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)\.json$", os.path.basename(f))
        if m:
            rounds.append(int(m.group(1)))
    return max(rounds) + 1


def test_effective_rotation_derives_from_artifacts():
    """Since r7 the rotation DERIVES from the CORRECTNESS artifacts at
    import (no regeneration step to forget — the r6 workflow-coupling
    ADVICE); this pins that the in-package derivation and the
    tools/gen_last_green.py mirror never drift apart, and that the
    committed fallback JSON stays parseable."""
    import json

    from amazon_lookout_for_equipment_python_sdk_spark.plans.queries import (
        _derive_last_green,
        _load_last_green,
    )
    from tools.gen_last_green import OUT, build

    derived = _derive_last_green()
    assert derived is not None  # repo root artifacts are visible here
    assert derived == build(), "queries.py / gen_last_green.py drifted"
    assert _load_last_green() == derived
    fallback = json.load(open(OUT))
    assert isinstance(fallback, dict) and fallback


def test_no_query_goes_stale():
    """Staleness invariant: every registered query must land a green
    driver row at least every STALE_ROUNDS rounds.  A query whose last
    green row would be STALE_ROUNDS old by the end of the round about to
    run must therefore sit inside the driver's 50-query window (where the
    driver will refresh its row).  Never-verified queries count as round
    0 and always belong in the window."""
    from amazon_lookout_for_equipment_python_sdk_spark.plans.queries import (
        STALE_ROUNDS,
        _load_last_green,
    )

    last = _load_last_green()
    rnd = _current_round()
    names = list(entrymod.queries())
    window = set(names[:DRIVER_WINDOW])
    stale = [
        n
        for n in names
        if rnd - last.get(n, 0) >= STALE_ROUNDS and n not in window
    ]
    assert not stale, (
        f"queries stale >= {STALE_ROUNDS} rounds but outside the driver "
        f"window: {stale}"
    )


def test_rotation_is_oldest_first():
    """The derived order must put oldest-verified (and force-verify)
    queries first — this is what makes the staleness bound self-renewing
    as the registry grows."""
    from amazon_lookout_for_equipment_python_sdk_spark.plans.queries import (
        _FORCE_VERIFY,
        _effective_forced,
        _load_last_green,
    )

    last = _load_last_green()
    forced = _effective_forced(last)
    rounds = [
        0 if n in forced else last.get(n, 0) for n in entrymod.queries()
    ]
    assert rounds == sorted(rounds), "registry not ordered by last-green round"
    unknown = [n for n in _FORCE_VERIFY if n not in entrymod.queries()]
    assert not unknown, f"_FORCE_VERIFY references unknown queries: {unknown}"


import re as _re

_DRIVER_ARTIFACT = _re.compile(
    r"^(CORRECTNESS_r\d+\.json|BENCH_r\d+\.json|VERDICT\.md|ADVICE\.md)$"
)


def _is_driver_artifact(name: str) -> bool:
    """Repo-root files the DRIVER/JUDGE commit after the builder's final
    commit each round ('round N: verdict/advice/correctness/bench')."""
    return bool(_DRIVER_ARTIFACT.match(name))


def _only_driver_commits_after(round_no: int, root: str | None = None) -> bool:
    """True iff every commit after the one that last touched
    CORRECTNESS_r{round_no}.json changed ONLY driver/judge artifacts —
    i.e. the builder has not committed since that artifact landed.

    This is the judge-time window (r10 verdict 'What's wrong' #1): the
    driver writes the round's CORRECTNESS artifact AFTER the builder's
    final commit, so a _FORCE_VERIFY entry whose green row is in that
    artifact is stale by the artifact's clock but the builder never had
    a chance to delete it.  Tolerating exactly this window keeps the
    judge's pytest green; the builder's FIRST commit of the next round
    (any file outside the driver set) re-arms the failure, so the
    forcing function survives.  No git / no artifact commit → no
    tolerance (conservative)."""
    import glob
    import os
    import subprocess

    if root is None:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    matches = []
    for f in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = _re.search(r"r0*(\d+)\.json$", f)  # skip non-numeric strays
        if m and m.group(1) == str(round_no):
            matches.append(f)
    if len(matches) != 1:
        return False
    rel = os.path.relpath(matches[0], root)
    try:
        art = subprocess.run(
            ["git", "-C", root, "log", "-1", "--format=%H", "--", rel],
            capture_output=True, text=True, timeout=30, check=True,
        ).stdout.strip()
        if not art:
            # the artifact exists on disk but has never been committed —
            # the driver's write-then-test ordering.  Tolerate ONLY if
            # the file postdates the builder's last commit: a stale
            # untracked artifact must not disarm the forcing function
            # across later builder commits (review finding), so HEAD
            # moving past the file's mtime re-arms it.
            head_ct = subprocess.run(
                ["git", "-C", root, "log", "-1", "--format=%ct"],
                capture_output=True, text=True, timeout=30, check=True,
            ).stdout.strip()
            return bool(head_ct) and os.path.getmtime(
                matches[0]
            ) > int(head_ct)
        # NUL sentinel per commit so a FILE-LESS commit (merge under
        # --name-only, --allow-empty) is visible — those count as
        # builder commits (conservative), not as driver artifacts
        after = subprocess.run(
            ["git", "-C", root, "log", "--name-only", "--format=%x00",
             f"{art}..HEAD"],
            capture_output=True, text=True, timeout=30, check=True,
        ).stdout
    except (OSError, subprocess.SubprocessError):
        return False
    for section in after.split("\x00")[1:]:  # one per commit after art
        files = [ln.strip() for ln in section.splitlines() if ln.strip()]
        if not files or not all(_is_driver_artifact(f) for f in files):
            return False
    return True


def test_force_verify_entries_not_stale():
    """The self-enforcing clear (r8 verdict #1, the #1 hygiene item two
    rounds running): a _FORCE_VERIFY entry exists to push a changed query
    back through the driver; once a green row AT OR AFTER the forcing
    round lands in a committed CORRECTNESS artifact, the entry is stale
    by definition — it merely burns a driver-window slot.  This test
    fails the build until the entry is deleted, turning the clear from a
    remembered chore into a forcing function like the rest of the
    rotation.  The >= comparison (not 'exists in newest artifact') keeps
    a query verified in round N-1 and re-changed in round N forceable
    without tripping on its pre-change row.

    Judge-time exemption (r10 verdict): a green row that lives only in
    an artifact committed AFTER the builder's last commit is tolerated —
    the builder could not have cleared it yet.  The tolerance dies with
    the next builder commit (_only_driver_commits_after)."""
    from amazon_lookout_for_equipment_python_sdk_spark.plans.queries import (
        _FORCE_VERIFY,
        _load_last_green,
    )

    last = _load_last_green()
    rnd = _current_round()
    stale = {
        n: (forced_rnd, last.get(n, 0))
        for n, forced_rnd in _FORCE_VERIFY.items()
        if last.get(n, 0) >= forced_rnd
        and not _only_driver_commits_after(last.get(n, 0))
    }
    assert not stale, (
        f"_FORCE_VERIFY entries whose post-change green row already "
        f"landed (name: (forced_round, last_green)): {stale} — delete them"
    )
    premature = {
        n: forced_rnd
        for n, forced_rnd in _FORCE_VERIFY.items()
        if forced_rnd >= rnd + 1
    }
    assert not premature, (
        f"_FORCE_VERIFY rounds in the future (current round {rnd}): "
        f"{premature}"
    )


def test_driver_artifact_filename_filter():
    """Pin the file set the judge-time exemption treats as 'driver
    commit' — widen deliberately, never by accident."""
    for good in ("CORRECTNESS_r10.json", "BENCH_r07.json", "VERDICT.md",
                 "ADVICE.md", "CORRECTNESS_r123.json"):
        assert _is_driver_artifact(good), good
    for bad in ("bench.py", "__spark_entry__.py", "BASELINE.md",
                "BASELINE.json", "PROGRESS.jsonl", "docs/R11_NOTES.md",
                "amazon_lookout_for_equipment_python_sdk_spark/plans/queries.py",
                "tests/test_driver_contract.py", "CORRECTNESS_rX.json",
                "xCORRECTNESS_r10.json"):
        assert not _is_driver_artifact(bad), bad


def test_judge_time_exemption_live_wiring():
    """Live-repo pin that stays green in BOTH legitimate states: an
    INDEPENDENT git query decides whether builder commits (any commit
    touching a non-driver file) exist after the newest artifact commit;
    when they do, the exemption must be OFF — asserting that
    unconditionally would be red at judge time (the driver's artifact
    commit is HEAD and the exemption is rightly active), the exact
    failure the exemption exists to fix.  Full arm/disarm semantics are
    pinned by the scratch-repo lifecycle test below."""
    import os
    import subprocess

    newest = _current_round() - 1
    # unknown rounds and unparseable names are conservatively False
    assert not _only_driver_commits_after(newest + 1000)

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    art = subprocess.run(
        ["git", "-C", root, "log", "-1", "--format=%H", "--",
         f"CORRECTNESS_r{newest:02d}.json"],
        capture_output=True, text=True, timeout=30,
    ).stdout.strip() or subprocess.run(
        ["git", "-C", root, "log", "-1", "--format=%H", "--",
         f"CORRECTNESS_r{newest}.json"],
        capture_output=True, text=True, timeout=30,
    ).stdout.strip()
    if not art:
        import pytest as _pytest

        _pytest.skip("newest artifact not committed — driver mid-write")
    after = subprocess.run(
        ["git", "-C", root, "log", "--name-only", "--format=", f"{art}..HEAD"],
        capture_output=True, text=True, timeout=30,
    ).stdout
    builder_commits_exist = any(
        ln.strip() and not _is_driver_artifact(ln.strip())
        for ln in after.splitlines()
    )
    if builder_commits_exist:
        assert not _only_driver_commits_after(newest), (
            "builder commits exist after the newest artifact but the "
            "exemption is still active — the forcing function is disarmed"
        )


def test_judge_time_exemption_lifecycle(tmp_path):
    """Scratch-repo replay of the artifact cycle: builder commit →
    driver artifact commit (exemption ON: judge's pytest stays green) →
    next builder commit (exemption OFF: the clear is forced again)."""
    import subprocess

    def git(*args):
        subprocess.run(
            ["git", "-C", str(tmp_path), *args],
            check=True, capture_output=True,
            env={"PATH": "/usr/bin:/bin", "HOME": str(tmp_path),
                 "GIT_AUTHOR_NAME": "t", "GIT_AUTHOR_EMAIL": "t@t",
                 "GIT_COMMITTER_NAME": "t", "GIT_COMMITTER_EMAIL": "t@t"},
        )

    git("init", "-q")
    (tmp_path / "engine.py").write_text("x = 1\n")
    git("add", "engine.py")
    git("commit", "-qm", "builder: engine change")
    # artifact on disk but not yet committed = the driver's
    # write-then-test ordering — tolerated ONLY while the file postdates
    # the builder's last commit (mtime rule): a stale untracked artifact
    # must not disarm the forcing function forever
    import os as _os
    import time as _time

    art = tmp_path / "CORRECTNESS_r5.json"
    art.write_text("{}")
    now = _time.time()
    _os.utime(art, (now + 100, now + 100))  # fresher than HEAD
    assert _only_driver_commits_after(5, str(tmp_path))
    _os.utime(art, (now - 10_000, now - 10_000))  # staler than HEAD
    assert not _only_driver_commits_after(5, str(tmp_path))
    _os.utime(art, (now + 100, now + 100))
    # driver commits the round artifacts after the builder's last commit
    (tmp_path / "VERDICT.md").write_text("v")
    git("add", "CORRECTNESS_r5.json", "VERDICT.md")
    git("commit", "-qm", "round 5: verdict/correctness")
    assert _only_driver_commits_after(5, str(tmp_path))  # judge time
    # first builder commit of the next round re-arms the failure
    (tmp_path / "engine.py").write_text("x = 2\n")
    git("add", "engine.py")
    git("commit", "-qm", "builder: next round work")
    assert not _only_driver_commits_after(5, str(tmp_path))
    # a later DRIVER-ONLY commit must not resurrect the tolerance for
    # the OLD round either: round-6 artifact lands, r5's entry stays due
    (tmp_path / "CORRECTNESS_r6.json").write_text("{}")
    git("add", "CORRECTNESS_r6.json")
    git("commit", "-qm", "round 6: correctness")
    assert not _only_driver_commits_after(5, str(tmp_path))
    assert _only_driver_commits_after(6, str(tmp_path))
    # unknown round → conservative
    assert not _only_driver_commits_after(7, str(tmp_path))
    # a FILE-LESS builder commit (--allow-empty; merges read the same
    # under --name-only) counts as a builder commit, not a driver one
    git("commit", "-qm", "builder: empty marker", "--allow-empty")
    assert not _only_driver_commits_after(6, str(tmp_path))


def test_all_query_outputs_have_atomic_columns(spark, sf_dir):
    """The driver canonicalizes results with pandas sort_values, which
    raises on list/dict cells — any array/map/struct TOP-LEVEL column is
    an automatic red row regardless of values (r4's
    embedding_l2_normalize).  Schema-only: no job runs."""
    bad = {}
    for name, fn in entrymod.queries().items():
        fields = fn(spark, sf_dir).schema.fields
        nonatomic = [
            f.name
            for f in fields
            if f.dataType.typeName() in ("array", "map", "struct")
        ]
        if nonatomic:
            bad[name] = nonatomic
    assert not bad, f"queries with non-atomic output columns: {bad}"


def test_window_capacity_covers_backlog():
    """If ever-unverified + stale queries exceed the 50-slot window, the
    staleness bound silently breaks for whatever spills past position 50.
    Catch the capacity problem itself, not just its symptom."""
    from amazon_lookout_for_equipment_python_sdk_spark.plans.queries import (
        STALE_ROUNDS,
        _load_last_green,
    )

    last = _load_last_green()
    rnd = _current_round()
    backlog = [
        n
        for n in entrymod.queries()
        if rnd - last.get(n, 0) >= STALE_ROUNDS
    ]
    assert len(backlog) <= DRIVER_WINDOW, (
        f"{len(backlog)} queries need verification this round but the "
        f"driver window holds {DRIVER_WINDOW} — registry grew too fast; "
        "stop adding queries until the backlog drains"
    )


def test_check_harness_flags_hugeint_oracle():
    """r6's two red rows: DuckDB ``sum(BIGINT)`` returns HUGEINT, which
    the driver's pandas canonicalizer renders as float64 — hash-divergent
    from Spark's int64 even when values match as Python ints.  The local
    harness must flag the class (tools/check.py oracle_dtype_problems);
    this fixture replays the exact failure shape."""
    import duckdb

    from tools.check import oracle_dtype_problems

    class _FakeField:
        def __init__(self, name):
            self.name = name
            self.dataType = type("T", (), {"typeName": staticmethod(lambda: "long")})()

    class _FakeDF:
        schema = type("S", (), {"fields": [_FakeField("s")]})()

    con = duckdb.connect()
    bad = con.sql("SELECT sum(x) AS s FROM (VALUES (1::BIGINT), (2::BIGINT)) t(x)")
    assert oracle_dtype_problems(_FakeDF(), bad), "uncast sum() not flagged"
    good = con.sql(
        "SELECT CAST(sum(x) AS BIGINT) AS s FROM (VALUES (1::BIGINT)) t(x)"
    )
    assert not oracle_dtype_problems(_FakeDF(), good)


def test_no_registered_oracle_returns_hugeint(sf_dir):
    """Static sweep of EVERY registered oracle: HUGEINT in an oracle's
    output schema is always an uncast aggregate (there is no legitimate
    int128 driver column), so describe each SQL against the sf0.001
    views and fail on sight — no Spark job needed."""
    import duckdb

    con = duckdb.connect()
    tables = (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split()
    for t in tables:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    bad = {}
    for name, sql in entrymod.oracle_sql().items():
        types = [str(t).upper() for t in con.sql(sql).types]
        huge = [
            f"{c}:{t}"
            for c, t in zip(con.sql(sql).columns, types)
            if t.startswith(("HUGEINT", "UHUGEINT"))
        ]
        if huge:
            bad[name] = huge
    assert not bad, f"oracles with uncast int128 aggregates: {bad}"


def test_registry_headroom_bounds_staleness():
    """Window-capacity budget (r7 verdict #2): with N registered queries,
    W window slots, and F of them burned by _FORCE_VERIFY entries, every
    unforced query cycles through the window once per ceil(N_unforced /
    (W - F)) rounds.  That quotient must stay within STALE_ROUNDS or the
    staleness invariant breaks for whichever queries spill past the
    window — permanently, not just this round.  At 123 queries / 50 slots
    the bound holds exactly (ceil(123/50)=3): registering query #151
    without retiring one (or composing it into an existing chain, the
    model_evaluation pattern) fails HERE at import time, not two rounds
    later as a red staleness row."""
    import math

    from amazon_lookout_for_equipment_python_sdk_spark.plans.queries import (
        DRIVER_WINDOW as ENGINE_WINDOW,
        STALE_ROUNDS,
        _effective_forced,
        _load_last_green,
    )

    assert ENGINE_WINDOW == DRIVER_WINDOW, "test copy drifted from engine"

    n_total = len(entrymod.queries())
    n_forced = len(_effective_forced(_load_last_green()))
    free_slots = ENGINE_WINDOW - n_forced
    assert free_slots > 0, "forced entries consume the whole driver window"
    cycle = math.ceil((n_total - n_forced) / free_slots)
    assert cycle <= STALE_ROUNDS, (
        f"{n_total} registered queries with {n_forced} forced entries "
        f"need {cycle} rounds to cycle the {DRIVER_WINDOW}-slot window, "
        f"exceeding STALE_ROUNDS={STALE_ROUNDS}; retire a query or share "
        "a slot via a composed chain before registering more"
    )
    # policy margin (r8 verdict #6): beyond the hard bound above, keep
    # >= 9 registrable slots against the POST-CLEAR ceiling (forced
    # entries are transient — the stale-entry test deletes them the
    # round after their green row lands), so one round's worth of
    # retire-or-compose debt never turns into a hard import failure.
    # 10 -> 9 in r13: the r12 verdict's #1 (the composed crawl-chain
    # row) explicitly set "Done = green CORRECTNESS row + registry
    # margin >= 9", spending one slot on certifying url_filter +
    # with_http_body lineage under the driver hash.
    # 9 -> 8 in r14: host_pagerank — the linkgraph family
    # (html_extract_links / host_graph / pagerank) is a NEW operator
    # surface with no existing composed chain to join, and the r13
    # verdict's #4 already priced exactly this trade ("or spend one
    # registry slot (margin 9)").  The hard bound above still holds
    # exactly (ceil(142/50) = 3 = STALE_ROUNDS).
    post_clear_margin = ENGINE_WINDOW * STALE_ROUNDS - n_total
    assert post_clear_margin >= 8, (
        f"registry at {n_total} leaves only {post_clear_margin} slots "
        f"below the {ENGINE_WINDOW * STALE_ROUNDS} post-clear ceiling; "
        "retire or compose (plans/queries.py policy) before registering"
    )


def test_bench_and_audit_names_are_registered():
    """Every name in bench.py's BENCH_QUERIES and plan_audit's
    AUDIT_QUERIES must be a registered query — a typo here silently
    drops the query from the round artifact (bench records an error
    entry; the audit raises at regen time, two rounds late)."""
    import importlib.util
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def names(path, attr):
        spec = importlib.util.spec_from_file_location("m", path)
        m = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(m)
        return getattr(m, attr)

    registered = set(entrymod.queries())
    bench = names(os.path.join(root, "bench.py"), "BENCH_QUERIES")
    audit = names(os.path.join(root, "tools", "plan_audit.py"), "AUDIT_QUERIES")
    assert set(bench) <= registered, set(bench) - registered
    assert set(audit) <= registered, set(audit) - registered
    assert len(bench) == len(set(bench)), "duplicate bench entries"
    assert len(audit) == len(set(audit)), "duplicate audit entries"


def test_package_kernels_pickle_by_value():
    """r8: the package registers itself with cloudpickle's
    register_pickle_by_value at import, so stateful/codec kernels reach
    executors WITHOUT the package being importable on them — the
    external harness imports us via sys.path.insert from an arbitrary
    cwd, where workers raised ModuleNotFoundError for every
    applyInPandasWithState kernel (caught in the r8 plain-session
    sweep).  Pin the registration AND that a representative kernel's
    pickle is self-contained (no by-reference module lookup)."""
    import base64
    import subprocess
    import sys

    from pyspark import cloudpickle

    from amazon_lookout_for_equipment_python_sdk_spark.streaming import (
        stateful,
    )

    assert cloudpickle.cloudpickle._is_registered_pickle_by_value(stateful)
    payload = base64.b64encode(cloudpickle.dumps(stateful._spacesaving_batch))
    # a worker that CANNOT import the package must still unpickle and
    # run the kernel (pandas alone suffices)
    probe = (
        "import base64, pickle, sys, types\n"
        "import pandas as pd\n"
        "fn = pickle.loads(base64.b64decode(sys.argv[1]))\n"
        "class St:\n"
        "    exists = False\n"
        "    def update(self, v): self.v = v\n"
        "out = list(fn(('g',), iter([pd.DataFrame({'token': ['a','b','a']})]), St(), 4, 2))\n"
        "assert out[0]['est'].tolist() == [2, 1], out\n"
        "print('BYVALUE_OK')\n"
    )
    r = subprocess.run(
        [sys.executable, "-c", probe, payload],
        capture_output=True, text=True, cwd="/tmp",
    )
    assert "BYVALUE_OK" in r.stdout, (r.stdout, r.stderr[-500:])


#: the registered plain/twin pairs: routing family -> (plain row, twin row)
_TWIN_ROWS = {
    "ffill": ("flagship_resample_ffill_rolling", "flagship_ffill_chunked"),
    "lead_pairs": ("lead_pairs_chunks", "lead_pairs_chunks_chunked"),
    "restamp_positional": ("positional_restamp", "positional_restamp_chunked"),
    "asof_join": ("asof_join_purchases", "asof_join_purchases_chunked"),
    "rolling_range": (
        "rolling_1h_range_frame",
        "rolling_1h_range_frame_chunked",
    ),
    "rolling_zscore": (
        "rolling_zscore_anomalies",
        "rolling_zscore_anomalies_chunked",
    ),
    "cusum_reflected": ("cusum_drift_flags", "cusum_drift_flags_chunked"),
    "ewma": ("ewma_chart", "ewma_chart_chunked"),
    "sessionize": ("sessionize_events", "sessionize_events_skew"),
    "pack_documents": ("pack_documents", "pack_documents_chunked"),
}


def test_twin_rows_run_their_plain_body():
    """Each registered twin row is its plain row's body, run on the
    family's twin operator against the plain row's oracle, and no plans
    module names a ``*_chunked`` operator itself: a twin row can only
    come from ``register_twins``, so the two rows of a pair cannot
    drift apart."""
    import ast
    import glob
    import os

    from amazon_lookout_for_equipment_python_sdk_spark.operators.routing import (
        FAMILIES,
    )
    from amazon_lookout_for_equipment_python_sdk_spark.plans import (
        queries as q,
    )

    for family, (plain, twin) in _TWIN_ROWS.items():
        fam = FAMILIES[family]
        p, t = q.QUERIES[plain], q.QUERIES[twin]
        assert t.func is p.func, family
        assert q.ORACLE_SQL[twin] == q.ORACLE_SQL[plain], family
        assert p.keywords["op"] is fam.plain, family
        assert t.keywords["op"].func is fam.twin, family
    named = []
    for path in glob.glob(os.path.join(os.path.dirname(q.__file__), "*.py")):
        for node in ast.walk(ast.parse(open(path).read())):
            name = getattr(node, "attr", None) or getattr(node, "id", None)
            if isinstance(name, str) and name.endswith("_chunked"):
                named.append(f"{os.path.basename(path)}:{node.lineno} {name}")
    assert not named, named


def test_register_refuses_a_duplicate_name():
    """A second registration under a taken name raises instead of
    silently replacing the first row and its oracle."""
    import pytest

    from amazon_lookout_for_equipment_python_sdk_spark.plans.registry import (
        ORACLE_SQL,
        QUERIES,
        register,
    )

    name = "_duplicate_registration_probe"
    assert name not in QUERIES
    try:
        register(name, "SELECT 1")(lambda spark, sf_dir: None)
        with pytest.raises(ValueError, match=name):
            register(name, "SELECT 2")(lambda spark, sf_dir: None)
        assert ORACLE_SQL[name] == "SELECT 1"
    finally:
        QUERIES.pop(name, None)
        ORACLE_SQL.pop(name, None)
