#!/usr/bin/env python3
"""Decade-scale oracle for the two heaviest dedup keys (r14, VERDICT r13
item 4): q_dedup_clusters_md5 and q_dedup_simhash_md5.

At the --scale2 tier (500k docs) the ORIGINAL oracle SQL cannot run:
the clusters oracle's RECURSIVE-CTE reachability closure and the
simhash oracle's brute-force all-pairs Hamming scan both exhaust the
box's disk (>70 GiB spill, twice, with tuning — r13 record). This tool
computes the SAME results with the scalable formulation:

 - candidate pairs via the banded LSH join (provably identical to the
   brute-force scan: Hamming <= 3 over 4 bands forces a shared band by
   pigeonhole, and the EXISTS-kept-band condition in the original
   oracle IS the banded-join semantics — the equivalence is law-pinned
   in DedupScaleSpec at small scale);
 - connected components via a UNION-FIND in this script — an
   implementation independent of the engine's Scala union-find /
   distributed label propagation.

Everything UP TO the pair set is computed by DuckDB from the raw
parquet (shingles, md5 digests, affine MinHash permutations, SimHash
bit votes, hot-bucket caps) — so the cross-engine evidence for the
hashing, signature, banding, and cap semantics is as strong as the
sf0.01 graded compare; only the closure/all-pairs formulations are
replaced by equivalent scalable ones.

Usage: python3 tools/decade_dedup_oracle.py <sfDir> <engineDumpDir>
  where <engineDumpDir> holds q_dedup_clusters_md5/ and
  q_dedup_simhash_md5/ parquet dirs, as written by
  `graft.Verify <sfDir> <out> q_dedup_clusters_md5,q_dedup_simhash_md5`.
"""
import sys, glob, os
import duckdb

P = 2147483647
PERMS = [(752861590, 1767823748), (848483509, 1367271934),
         (1869606813, 2145151121), (519507499, 899448300),
         (1423030150, 1976685138), (2085455519, 1825101048),
         (1335112619, 371356052), (1882492825, 2074008370),
         (289602774, 1614373277), (1878954221, 1027648708),
         (1877353167, 203016478), (1810161869, 614499557),
         (504801935, 391386581), (224310864, 1552932024),
         (1167279993, 1909427119), (1848984516, 754397042)]
MAX_BUCKET = 1000


def pairs_minhash(con):
    """MinHash-LSH candidate pairs (a, b) — the capped banded join."""
    perms_values = ",".join(f"({p},{a},{b})" for p, (a, b) in enumerate(PERMS))
    con.execute(f"""
    CREATE TEMP TABLE mh_band AS
    WITH sh AS (
      SELECT DISTINCT doc_id, s AS sh FROM (
        SELECT doc_id,
          unnest(list_transform(generate_series(1, len(t) - 2),
            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) d
        WHERE len(t) >= 3) u),
    hv AS (
      SELECT doc_id,
        CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) % {P} AS hp
      FROM sh),
    perms(p, a, b) AS (VALUES {perms_values}),
    sig AS (
      SELECT doc_id, p, MIN((CAST(a AS BIGINT) * hp + b) % {P}) AS mh
      FROM hv CROSS JOIN perms GROUP BY doc_id, p)
    SELECT doc_id, p // 4 AS b,
      string_agg(CAST(mh AS VARCHAR), ',' ORDER BY p) AS bval
    FROM sig GROUP BY doc_id, p // 4
    """)
    con.execute(f"""
    CREATE TEMP TABLE mh_pairs AS
    WITH keep AS (
      SELECT b, bval FROM mh_band GROUP BY b, bval
      HAVING COUNT(*) <= {MAX_BUCKET}),
    kband AS (
      SELECT mh_band.doc_id, mh_band.b, mh_band.bval
      FROM mh_band JOIN keep USING (b, bval))
    SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
    FROM kband l JOIN kband r
      ON l.b = r.b AND l.bval = r.bval AND l.doc_id < r.doc_id
    """)
    return con.execute("SELECT a, b FROM mh_pairs").fetchall()


def expected_clusters(pairs):
    """Union-find over the candidate graph; label = component min."""
    parent = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sorted((d, find(d)) for d in parent)


def expected_simhash(con):
    """SimHash Hamming<=3 pairs via the capped banded join."""
    con.execute("""
    CREATE TEMP TABLE sh_sig AS
    WITH sh AS (
      SELECT DISTINCT doc_id, s AS sh FROM (
        SELECT doc_id,
          unnest(list_transform(generate_series(1, len(t) - 2),
            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) d
        WHERE len(t) >= 3) u),
    hv AS (
      SELECT doc_id, CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS h
      FROM sh),
    votes AS (
      SELECT doc_id, j,
        CASE WHEN SUM(((h >> j) & 1) * 2 - 1) > 0 THEN 1 ELSE 0 END AS bit
      FROM hv CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS j) js
      GROUP BY doc_id, j)
    SELECT doc_id, SUM(CAST(bit AS BIGINT) << j) AS sig
    FROM votes GROUP BY doc_id
    """)
    return con.execute(f"""
    WITH bands AS (
      SELECT doc_id, band, sig, (sig >> (band * 15)) & 32767 AS bval
      FROM sh_sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) bs),
    keep AS (
      SELECT band, bval FROM bands GROUP BY band, bval
      HAVING COUNT(*) <= {MAX_BUCKET}),
    kb AS (
      SELECT bands.doc_id, bands.band, bands.bval, bands.sig
      FROM bands JOIN keep USING (band, bval))
    SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
      CAST(bit_count(xor(l.sig, r.sig)) AS BIGINT) AS ham
    FROM kb l JOIN kb r
      ON l.band = r.band AND l.bval = r.bval AND l.doc_id < r.doc_id
    WHERE bit_count(xor(l.sig, r.sig)) <= 3
    ORDER BY a, b
    """).fetchall()


def read_dump(dump_dir, key):
    files = sorted(glob.glob(os.path.join(dump_dir, key, "*.parquet")))
    if not files:
        raise SystemExit(f"FAIL {key}: no parquet dump under {dump_dir}")
    con = duckdb.connect()
    return con.execute(
        f"SELECT * FROM read_parquet({files!r})").fetchall()


def main(sfdir, dumpdir):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sfdir}/documents.parquet')")
    ok = True

    pairs = pairs_minhash(con)
    print(f"[oracle] minhash candidate pairs: {len(pairs)}")

    exp_cl = expected_clusters(pairs)
    got_cl = sorted((int(r[0]), int(r[1])) for r in
                    read_dump(dumpdir, "q_dedup_clusters_md5"))
    if got_cl == exp_cl:
        print(f"PASS q_dedup_clusters_md5 ({len(got_cl)} rows)")
    else:
        ok = False
        print(f"FAIL q_dedup_clusters_md5: engine {len(got_cl)} rows vs "
              f"oracle {len(exp_cl)}")
        for g, e in list(zip(got_cl, exp_cl))[:5]:
            if g != e:
                print(f"  first diff: engine={g} oracle={e}")
                break

    exp_sh = sorted((int(a), int(b), int(h)) for a, b, h in
                    expected_simhash(con))
    got_sh = sorted((int(r[0]), int(r[1]), int(r[2])) for r in
                    read_dump(dumpdir, "q_dedup_simhash_md5"))
    if got_sh == exp_sh:
        print(f"PASS q_dedup_simhash_md5 ({len(got_sh)} rows)")
    else:
        ok = False
        print(f"FAIL q_dedup_simhash_md5: engine {len(got_sh)} rows vs "
              f"oracle {len(exp_sh)}")
    print("== decade dedup oracle:", "PASS" if ok else "FAIL", "==")
    return 0 if ok else 1


if __name__ == "__main__":
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
