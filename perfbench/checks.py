"""DuckDB replays of the workloads' outputs.

Each function takes the ``check_inputs`` map the JVM wrote (parquet
directories of the generated input and of every checked boundary) and
returns a list of failure messages; an empty list means every check
passed. The replays read the same parquet the library read, never the
library's code.
"""

import duckdb


def _pq(path):
    return f"read_parquet('{path}/*.parquet')"


def _one(con, sql):
    return con.execute(sql).fetchone()


def ehr_pipeline(ci):
    con = duckdb.connect()
    fail = []
    con.execute(f"create view ev as select * from {_pq(ci['events'])}")
    con.execute(f"create view subj as select * from {_pq(ci['subjects'])}")
    con.execute(f"create view seqs as select * from {_pq(ci['sequences'])}")

    # one sequence per subject that has events
    rows, distinct = _one(con, "select count(*), count(distinct subject_id) "
                               "from seqs")
    missing, extra = _one(con, """
        select (select count(*) from (select distinct user_id from ev
                                      except select subject_id from seqs)),
               (select count(*) from (select subject_id from seqs
                                      except select distinct user_id from ev))
    """)
    if rows != distinct or missing or extra:
        fail.append(f"sequences: {rows} rows for {distinct} subjects, "
                    f"{missing} subjects with events missing, {extra} extra")

    # sum of seq_len = merged (subject, ts, type) events; every raw
    # event's measurement rides exactly one sequence
    seq_len, n_meas = _one(con, "select sum(seq_len), sum(n_meas) from seqs")
    merged, raw = _one(con, """
        select (select count(*) from (select distinct user_id, ts, event_type
                                      from ev)),
               (select count(*) from ev)""")
    if seq_len != merged:
        fail.append(f"sum(seq_len) = {seq_len}, merged events = {merged}")
    if n_meas != raw:
        fail.append(f"measurements in sequences = {n_meas}, raw = {raw}")

    # replay Splits.subjectSplitsByKey(md5SplitKey(seed)): rank by
    # (md5('<id>:<seed>'), id) and cut at round(frac * total)
    seed, frac = int(ci["split_seed"]), float(ci["train_frac"])
    con.execute(f"""
        create view train as
        select subject_id from (
          select subject_id, row_number() over (
                   order by md5(cast(subject_id as varchar) || ':{seed}'),
                            subject_id) as rn,
                 count(*) over () as total
          from subj)
        where rn <= round({frac} * total)""")

    # fit state comes from train subjects only
    got = set(con.execute(f"select element, n from {_pq(ci['fit_grp'])}")
              .fetchall())
    want = set(con.execute("""
        select grp, count(*) from subj where subject_id in
        (select subject_id from train) group by grp""").fetchall())
    got = {(e, n) for e, n in got if n > 0}  # the vocabulary adds UNK at 0
    if got != want:
        fail.append(f"static 'grp' vocabulary {sorted(got)} is not the "
                    f"train-only count {sorted(want)}")
    for key, mean in con.execute(f"""
            select f.key, f.norm_mean - t.m from {_pq(ci['fit_value'])} f
            join (select event_type, avg(value) m from ev where user_id in
                  (select subject_id from train) group by event_type) t
            on f.key = t.event_type where f.value_type = 'float'""").fetchall():
        if abs(mean) > 1e-6:
            fail.append(f"'value' normalizer mean for {key} is off the "
                        f"train-only mean by {mean}")
    n_keys = _one(con, f"select count(*) from {_pq(ci['fit_value'])}")[0]
    n_types = _one(con, "select count(distinct event_type) from ev where "
                        "user_id in (select subject_id from train)")[0]
    if n_keys != n_types:
        fail.append(f"'value' fit has {n_keys} keys, train has {n_types}")
    diff = _one(con, f"""
        select (select norm_mean from {_pq(ci['fit_age'])}) - avg(
                 (epoch(e.ts) - epoch(s.dob)) / (365.0 * 24 * 3600))
        from (select distinct user_id, ts, event_type from ev
              where user_id in (select subject_id from train)) e
        join subj s on s.subject_id = e.user_id""")[0]
    if diff is None or abs(diff) > 1e-6:
        fail.append(f"'age' normalizer mean is off the train-only mean by "
                    f"{diff}")
    return fail


def index_lifecycle(ci):
    """Dedup.exact replay on one round's cleaned arrivals: the lowest id
    per whitespace- and case-normalised text survives."""
    con = duckdb.connect()
    for name in ("clean", "exact"):
        con.execute(f"create view {name} as select * from {_pq(ci[name])}")
    d1, d2, n = _one(con, r"""
        with want as (select min(doc_id) doc_id from clean
                      group by regexp_replace(lower(trim(text)), '\s+', ' ',
                                              'g'))
        select (select count(*) from (select doc_id from want
                                      except select doc_id from exact)),
               (select count(*) from (select doc_id from exact
                                      except select doc_id from want)),
               (select count(*) from want)""")
    if d1 or d2 or not n:
        return [f"exact dedup differs from the DuckDB replay: {d1} "
                f"survivors missing, {d2} extra, {n} expected"]
    return []


def run(workload, check_inputs):
    fn = {"ehr_pipeline": ehr_pipeline,
          "index_lifecycle": index_lifecycle}.get(workload)
    return fn(check_inputs) if fn else []
