"""Shared parts of the benchmark's commands: paths, the build, and the
result fingerprint both the oracle store and every run compute."""
import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, 'tables', 'sf0.1')
ORACLE = os.path.join(HERE, 'oracle', 'fingerprints.json')
WORK = os.path.join(ROOT, '.bench_build', 'perfbench')
TABLES = ['region', 'nation', 'customer', 'supplier', 'part', 'orders',
          'lineitem', 'events', 'documents', 'embeddings']
# The benchmark JVM's heap, pinned (-Xms = -Xmx) as the program's own
# build does; it comes after the build's options, so it wins.
HEAP = ['-Xms2g', '-Xmx2g']


def log(msg):
    print(f'[perfbench] {msg}', file=sys.stderr, flush=True)


def _sources():
    """Every file the build reads from the checkout: the program's build and
    main sources, and the benchmark's own build and sources."""
    roots = [os.path.join(ROOT, 'src', 'main'), os.path.join(ROOT, 'project'),
             os.path.join(HERE, 'src'), os.path.join(HERE, 'project')]
    files = [os.path.join(ROOT, 'build.sbt'), os.path.join(HERE, 'build.sbt')]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ('target', 'project'))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith(('.scala', '.sbt', '.properties', '.java'))]
    return [f for f in files if os.path.isfile(f)]


def build():
    """Compiles the program and the benchmark once per source state and
    returns the java command prefix (options and classpath)."""
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, 'rb') as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    os.makedirs(WORK, exist_ok=True)
    stamp_file = os.path.join(WORK, 'build.stamp')
    launch = os.path.join(HERE, 'target', 'launch.txt')
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp
            and os.path.exists(launch)):
        log('building (sbt compile of the program and the benchmark)')
        env = dict(os.environ)
        env.setdefault('COURSIER_MODE', 'offline')
        with open(os.path.join(WORK, 'build.log'), 'w') as out:
            r = subprocess.run(['sbt', '-batch', '-Dsbt.log.noformat=true', 'launchFile'],
                               cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=840)
        if r.returncode != 0:
            raise SystemExit(f'build failed (see {os.path.join(WORK, "build.log")})')
        with open(stamp_file, 'w') as fh:
            fh.write(stamp)
    lines = [x for x in open(launch).read().splitlines() if x]
    return ['java'] + lines[1:] + HEAP + ['-cp', lines[0]]


def _canon(v):
    """A stable text form of one value that is not a plain number or string
    (arrays, maps, structs, timestamps, bytes, nulls)."""
    import math
    if v is None:
        return 'null'
    if isinstance(v, float):
        return 'nan' if math.isnan(v) else repr(v + 0.0)
    if isinstance(v, dict):
        return '{' + ','.join(f'{k}:{_canon(x)}' for k, x in sorted(v.items())) + '}'
    if isinstance(v, (list, tuple)) or type(v).__name__ == 'ndarray':
        return '[' + ','.join(_canon(x) for x in list(v)) + ']'
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    try:
        import pandas as pd
        if v is pd.NaT or (not isinstance(v, str) and pd.isna(v)):
            return 'null'
    except (TypeError, ValueError):
        pass
    return str(v)


def fingerprint(con, relation_sql):
    """Order-independent fingerprint of a result: its column names, the
    pandas dtype of each column (the comparison the repo's correctness
    check makes), the row count, and the sum and xor of 64-bit row hashes
    over canonical values (-0.0 reads as 0.0, every NaN alike)."""
    import numpy as np
    import pandas as pd
    df = con.sql(relation_sql).df()
    cols = sorted(df.columns)
    df = df[cols]
    canon = pd.DataFrame(index=df.index)
    for c in cols:
        s = df[c]
        if s.dtype.kind == 'f':
            a = s.to_numpy(dtype='float64') + 0.0
            canon[c] = np.where(np.isnan(a), np.nan, a)
        elif s.dtype.kind == 'O':
            canon[c] = s.map(lambda v: v if isinstance(v, str) else '\x00' + _canon(v))
        else:
            canon[c] = s
    if len(df):
        h = pd.util.hash_pandas_object(canon, index=False).to_numpy(dtype='uint64')
        hsum = int(h.sum(dtype='uint64'))
        hxor = int(np.bitwise_xor.reduce(h))
    else:
        hsum = hxor = 0
    return {'rows': int(len(df)), 'columns': cols,
            'dtypes': [str(df[c].dtype) for c in cols],
            'hash_sum': f'{hsum:016x}', 'hash_xor': f'{hxor:016x}'}


def duckdb_tables(con):
    """The sf0.1 tables as DuckDB views, as the oracle SQL expects them."""
    for t in TABLES:
        con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")


def load_json(path):
    with open(path) as fh:
        return json.load(fh)
