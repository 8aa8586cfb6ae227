"""Randomized foreign-key differential scripts replayed by PgDmlParitySpec.

Usage: python3 tools/gen_fk_sweep.py SWEEP [SWEEP ...]   (from the repo root)

Each sweep seeds `random` with its own fixed seed and writes one script
under src/test/resources/dml/, in the PgDmlDiffTool grammar described in
pg_capture.py. Replay a script against live pg with pg_capture.py
(pg_capture_txn.py for 45) to refresh its expected output.
"""
import random
import sys


def sweep_41c(s):
    """plain DML (INSERT, UPDATE, DELETE, ON CONFLICT) over a parent with
    NO ACTION and RESTRICT children."""
    s("DROP TABLE IF EXISTS fkc")
    s("DROP TABLE IF EXISTS fkd")
    s("DROP TABLE IF EXISTS fkp")
    s("CREATE TABLE fkp (id int PRIMARY KEY, v int)")
    s("CREATE TABLE fkc (id int PRIMARY KEY, pid int REFERENCES fkp (id), w int)")
    s("CREATE TABLE fkd (id int PRIMARY KEY, pid int REFERENCES fkp (id) ON DELETE RESTRICT, w int)")
    cid = 0
    for i in range(130):
        r = random.randrange(1000)
        op = random.randrange(12)
        if op in (0, 1, 2):
            s(f"INSERT INTO fkp VALUES ({r % 20}, {r})")
        elif op in (3, 4):
            cid += 1
            pid = "NULL" if r % 7 == 0 else str(r % 26)
            tbl = "fkc" if r % 3 else "fkd"
            s(f"INSERT INTO {tbl} VALUES ({cid}, {pid}, {r % 9})")
        elif op == 5:
            s(f"UPDATE fkc SET pid = {r % 26} WHERE id % 5 = {r % 5}")
        elif op == 6:
            s(f"UPDATE fkp SET id = {r % 22} WHERE id = {(r // 7) % 22}")
        elif op == 7:
            s(f"UPDATE fkp SET v = v + 1 WHERE id % 3 = {r % 3}")
        elif op == 8:
            s(f"DELETE FROM fkp WHERE id = {r % 22}")
        elif op == 9:
            tbl = "fkc" if r % 2 else "fkd"
            s(f"DELETE FROM {tbl} WHERE w = {r % 9}")
        elif op == 10:
            cid += 1
            s(f"INSERT INTO fkc VALUES ({cid % 40}, {r % 26}, {r % 9}) "
              f"ON CONFLICT (id) DO UPDATE SET pid = EXCLUDED.pid")
        else:
            s(f"INSERT INTO fkd VALUES ({cid % 30}, {r % 26}, {r % 9}) "
              f"ON CONFLICT (id) DO NOTHING")
        if i % 9 == 8:
            s("? fkp"); s("? fkc"); s("? fkd")
    s("? fkp"); s("? fkc"); s("? fkd")
    s("DROP TABLE fkc")
    s("DROP TABLE fkd")
    s("DROP TABLE fkp")


def sweep_41d(s):
    """the UPDATE...FROM / DELETE...USING shapes."""
    s("DROP TABLE IF EXISTS gkc")
    s("DROP TABLE IF EXISTS gkp")
    s("DROP TABLE IF EXISTS gsrc")
    s("CREATE TABLE gkp (id int PRIMARY KEY, v int)")
    s("CREATE TABLE gkc (id int PRIMARY KEY, pid int REFERENCES gkp (id), w int)")
    s("CREATE TABLE gsrc (k int, nv int)")
    for i in range(10):
        s(f"INSERT INTO gkp VALUES ({i}, {i * 3})")
    for i in range(14):
        s(f"INSERT INTO gkc VALUES ({i}, {i % 10}, {i % 5})")
    for i in range(8):
        s(f"INSERT INTO gsrc VALUES ({i}, {(i * 7) % 15})")
    for i in range(90):
        r = random.randrange(1000)
        op = random.randrange(10)
        if op in (0, 1, 2):
            # child UPDATE...FROM: joined source drives pid (sometimes missing)
            s(f"UPDATE gkc SET pid = s.nv % 15 FROM gsrc s "
              f"WHERE gkc.id = s.k + {r % 7}")
        elif op in (3, 4):
            # parent DELETE...USING referencing children
            s(f"DELETE FROM gkp USING gsrc s WHERE gkp.id = s.nv % 12 "
              f"AND s.k = {r % 8}")
        elif op == 5:
            # parent UPDATE...FROM rewriting the referenced key
            s(f"UPDATE gkp SET id = s.nv % 18 FROM gsrc s "
              f"WHERE gkp.id = s.k + {r % 5}")
        elif op == 6:
            s(f"UPDATE gsrc SET nv = {r % 15} WHERE k = {r % 8}")
        elif op == 7:
            s(f"INSERT INTO gkp VALUES ({r % 18}, {r})")
        elif op == 8:
            s(f"INSERT INTO gkc VALUES ({14 + i}, {r % 14}, {r % 5})")
        else:
            s(f"DELETE FROM gkc USING gsrc s WHERE gkc.pid = s.nv % 12 "
              f"AND s.k = {r % 8} AND gkc.w = {r % 5}")
        if i % 8 == 7:
            s("? gkp"); s("? gkc"); s("? gsrc")
    s("? gkp"); s("? gkc"); s("? gsrc")
    s("DROP TABLE gkc")
    s("DROP TABLE gkp")
    s("DROP TABLE gsrc")


def sweep_42(s):
    """EXECUTED ON DELETE referential actions: CASCADE (incl. 2-level
    chains, a NO ACTION grandchild behind a CASCADE child, and a
    self-referencing tree), SET NULL (incl. a NOT NULL column -> 23502),
    SET DEFAULT (incl. the default key vanishing -> 23503), mixed with
    inserts and DELETE...USING. State dumps after every destructive wave."""
    for t in ("fx", "fg", "fc", "fn", "fnn", "fd", "ft", "fp", "fsrc"):
        s(f"DROP TABLE IF EXISTS {t}")
    s("CREATE TABLE fp (id int PRIMARY KEY, v int)")
    s("CREATE TABLE fc (id int PRIMARY KEY, "
      "pid int REFERENCES fp(id) ON DELETE CASCADE, w int)")
    s("CREATE TABLE fg (id int PRIMARY KEY, "
      "cid int REFERENCES fc(id) ON DELETE CASCADE, z int)")
    s("CREATE TABLE fx (id int PRIMARY KEY, cid int REFERENCES fc(id))")
    s("CREATE TABLE fn (id int PRIMARY KEY, "
      "pid int REFERENCES fp(id) ON DELETE SET NULL, t int)")
    s("CREATE TABLE fnn (id int PRIMARY KEY, "
      "pid int NOT NULL REFERENCES fp(id) ON DELETE SET NULL)")
    s("CREATE TABLE fd (id int PRIMARY KEY, "
      "pid int DEFAULT 1 REFERENCES fp(id) ON DELETE SET DEFAULT)")
    s("CREATE TABLE ft (id int PRIMARY KEY, "
      "mgr int REFERENCES ft(id) ON DELETE CASCADE)")
    s("CREATE TABLE fsrc (k int, m int)")

    def seed():
        for i in range(12):
            s(f"INSERT INTO fp VALUES ({i}, {i * 2})")
        for i in range(16):
            s(f"INSERT INTO fc VALUES ({i}, {i % 12}, {i % 4})")
        for i in range(20):
            s(f"INSERT INTO fg VALUES ({i}, {i % 16}, {i})")
        for i in range(5):
            s(f"INSERT INTO fx VALUES ({i}, {(i * 3) % 16})")
        for i in range(8):
            s(f"INSERT INTO fn VALUES ({i}, {i % 12}, {i})")
        for i in range(6):
            s(f"INSERT INTO fd VALUES ({i}, {(i * 5) % 12})")
        # self-ref tree: 0 root; 1,2 under 0; 3,4 under 1; 5 under 3
        s("INSERT INTO ft VALUES (0, NULL), (1, 0), (2, 0), (3, 1), (4, 1), (5, 3)")
        for i in range(6):
            s(f"INSERT INTO fsrc VALUES ({i}, {(i * 7) % 12})")
    seed()

    def dump(tabs=("fp", "fc", "fg", "fx", "fn", "fd", "ft")):
        for t in tabs:
            s(f"? {t}")

    dump()
    for i in range(70):
        r = random.randrange(1000)
        op = random.randrange(12)
        if op in (0, 1):
            # the headline: parent delete fires CASCADE chains fp->fc->fg,
            # SET NULL on fn, SET DEFAULT on fd; blocked 23503 when a
            # cascaded fc row is still referenced by NO ACTION fx
            s(f"DELETE FROM fp WHERE id = {r % 14}")
        elif op == 2:
            # multi-row parent delete (whole wave in one statement)
            s(f"DELETE FROM fp WHERE v >= {r % 20} AND v < {r % 20 + 4}")
        elif op == 3:
            # DELETE...USING arm fires the same actions
            s(f"DELETE FROM fp USING fsrc s WHERE fp.id = s.m AND s.k = {r % 6}")
        elif op == 4:
            # self-referencing CASCADE subtree delete
            s(f"DELETE FROM ft WHERE id = {r % 7}")
        elif op == 5:
            # direct child delete cascades to fg, blocked by nothing
            s(f"DELETE FROM fc WHERE id = {r % 18}")
        elif op == 6:
            s(f"INSERT INTO fp VALUES ({r % 16}, {r % 20})")
        elif op == 7:
            s(f"INSERT INTO fc VALUES ({16 + i}, {r % 16}, {r % 4})")
        elif op == 8:
            s(f"INSERT INTO fg VALUES ({20 + i}, {r % 30}, {r})")
        elif op == 9:
            s(f"INSERT INTO fn VALUES ({8 + i}, {r % 16}, {r})")
            s(f"INSERT INTO fd VALUES ({6 + i}, {r % 16})")
        elif op == 10:
            # fx insert re-arms the NO ACTION blocker
            s(f"INSERT INTO fx VALUES ({5 + i}, {r % 25})")
        else:
            # fx delete disarms it
            s(f"DELETE FROM fx WHERE id = {r % 20}")
        if op <= 5:
            dump()

    # deterministic codas
    s("DELETE FROM fx")                     # disarm NO ACTION blocker
    s("INSERT INTO fnn VALUES (1, 2)")      # NOT NULL SET NULL arm
    s("DELETE FROM fp WHERE id = 2")        # -> 23502 (fnn.pid NOT NULL)
    s("? fnn")
    s("DELETE FROM fnn")
    s("INSERT INTO fp VALUES (1, 999) ON CONFLICT (id) DO NOTHING")
    s("INSERT INTO fd VALUES (90, 1), (91, 1)")
    s("DELETE FROM fp WHERE id = 1")        # SET DEFAULT to 1 while deleting 1 -> 23503
    s("? fp"); s("? fd")
    s("INSERT INTO fp VALUES (1, 1)")
    s("INSERT INTO fd VALUES (92, 3) ON CONFLICT (id) DO NOTHING")
    s("INSERT INTO fp VALUES (3, 3) ON CONFLICT (id) DO NOTHING")
    s("DELETE FROM fp WHERE id = 3")        # SET DEFAULT -> 1 (exists) succeeds
    s("? fd")
    s(">DELETE FROM fp WHERE id = 5 RETURNING id, v")  # RETURNING over a cascading delete
    dump()
    s("DELETE FROM ft WHERE id = 0")        # whole remaining tree
    s("? ft")
    for t in ("fx", "fg", "fc", "fn", "fnn", "fd", "ft", "fp", "fsrc"):
        s(f"DROP TABLE {t}")


def sweep_43(s):
    """EXECUTED ON UPDATE referential actions: CASCADE (incl. a natural-key
    2-level chain up.id -> uc.pid(PK) -> ug.cpid and a self-referencing
    tree), SET NULL (incl. NOT NULL -> 23502), SET DEFAULT (incl. the
    default key vanishing -> 23503), a NO ACTION blocker, UPDATE...FROM
    arms, and interleaved inserts/deletes. State dumps after every
    key-rewriting wave."""
    for t in ("ug", "ux", "un", "unn", "ud", "ut", "uc", "up", "usrc"):
        s(f"DROP TABLE IF EXISTS {t}")
    s("CREATE TABLE up (id int PRIMARY KEY, v int)")
    # natural-key chain: uc's PK IS the FK, so a cascaded pid change
    # re-fires ug's ON UPDATE CASCADE (true 2-level)
    s("CREATE TABLE uc (pid int PRIMARY KEY REFERENCES up(id) ON UPDATE CASCADE, w int)")
    s("CREATE TABLE ug (id int PRIMARY KEY, "
      "cpid int REFERENCES uc(pid) ON UPDATE CASCADE, z int)")
    s("CREATE TABLE ux (id int PRIMARY KEY, pid int REFERENCES up(id))")
    s("CREATE TABLE un (id int PRIMARY KEY, "
      "pid int REFERENCES up(id) ON UPDATE SET NULL, t int)")
    s("CREATE TABLE unn (id int PRIMARY KEY, "
      "pid int NOT NULL REFERENCES up(id) ON UPDATE SET NULL)")
    s("CREATE TABLE ud (id int PRIMARY KEY, "
      "pid int DEFAULT 1 REFERENCES up(id) ON UPDATE SET DEFAULT)")
    s("CREATE TABLE ut (id int PRIMARY KEY, boss int REFERENCES ut(id) ON UPDATE CASCADE)")
    s("CREATE TABLE usrc (k int, m int)")

    for i in range(14):
        s(f"INSERT INTO up VALUES ({i}, {i * 2})")
    for i in range(0, 14, 2):
        s(f"INSERT INTO uc VALUES ({i}, {i % 5})")
    for i in range(10):
        s(f"INSERT INTO ug VALUES ({i}, {(i * 2) % 14 - (i * 2) % 14 % 2}, {i})")
    for i in range(4):
        s(f"INSERT INTO ux VALUES ({i}, {(i * 3) % 14})")
    for i in range(8):
        s(f"INSERT INTO un VALUES ({i}, {i % 14}, {i})")
    for i in range(6):
        s(f"INSERT INTO ud VALUES ({i}, {(i * 5) % 14})")
    s("INSERT INTO ut VALUES (0, NULL), (1, 0), (2, 0), (3, 1), (4, 3)")
    for i in range(6):
        s(f"INSERT INTO usrc VALUES ({i}, {(i * 7) % 20})")

    def dump(tabs=("up", "uc", "ug", "ux", "un", "ud", "ut")):
        for t in tabs:
            s(f"? {t}")

    dump()
    for i in range(70):
        r = random.randrange(1000)
        op = random.randrange(12)
        if op in (0, 1, 2):
            # the headline: PK rewrite fires CASCADE chain + SET NULL +
            # SET DEFAULT; 23503 when a ux row still references the key;
            # 23505 when the new key collides
            s(f"UPDATE up SET id = {20 + r % 30} WHERE id = {r % 25}")
        elif op == 3:
            # multi-row key shift (whole wave in one statement)
            s(f"UPDATE up SET id = id + 40 WHERE v >= {r % 24} AND v < {r % 24 + 4}")
        elif op == 4:
            # UPDATE...FROM arm rewriting the key from a join
            s(f"UPDATE up SET id = s.m + 25 FROM usrc s "
              f"WHERE up.id = s.k + {r % 5}")
        elif op == 5:
            # self-referencing CASCADE: renumber a tree node
            s(f"UPDATE ut SET id = {10 + r % 20} WHERE id = {r % 10}")
        elif op == 6:
            # non-key update: actions must NOT fire
            s(f"UPDATE up SET v = {r} WHERE id = {r % 30}")
        elif op == 7:
            s(f"INSERT INTO up VALUES ({r % 35}, {r % 24})")
        elif op == 8:
            s(f"INSERT INTO un VALUES ({8 + i}, {r % 35}, {r})")
            s(f"INSERT INTO ud VALUES ({6 + i}, {r % 35})")
        elif op == 9:
            s(f"INSERT INTO ux VALUES ({4 + i}, {r % 35})")
        elif op == 10:
            s(f"DELETE FROM ux WHERE id = {r % 20}")
        else:
            s(f"INSERT INTO uc VALUES ({r % 35}, {r % 5})")
        if op <= 5:
            dump()

    # deterministic codas
    s("DELETE FROM ux")                      # disarm the NO ACTION blocker
    s("INSERT INTO up VALUES (90, 90) ON CONFLICT (id) DO NOTHING")
    s("INSERT INTO unn VALUES (1, 90)")
    s("UPDATE up SET id = 91 WHERE id = 90") # SET NULL on NOT NULL -> 23502
    s("? unn")
    s("DELETE FROM unn")
    s("INSERT INTO up VALUES (1, 1) ON CONFLICT (id) DO NOTHING")
    s("INSERT INTO ud VALUES (95, 1)")
    s("UPDATE up SET id = 92 WHERE id = 1")  # SET DEFAULT to 1 while 1 vanishes -> 23503
    s("? up"); s("? ud")
    s("INSERT INTO up VALUES (1, 1) ON CONFLICT (id) DO NOTHING")
    s("INSERT INTO up VALUES (5, 5) ON CONFLICT (id) DO NOTHING")
    s("INSERT INTO ud VALUES (96, 5)")
    s("UPDATE up SET id = 93 WHERE id = 5")  # SET DEFAULT -> 1 (exists) succeeds
    s("? ud")
    s(">UPDATE up SET id = 94 WHERE id = 93 RETURNING id, v")
    dump()
    for t in ("ug", "ux", "un", "unn", "ud", "ut", "uc", "up", "usrc"):
        s(f"DROP TABLE {t}")


def sweep_45(s):
    """nondeterministic SET on a referenced key under executed ON UPDATE
    referential actions. nextval()/DEFAULT-serial SETs on parent PKs with
    CASCADE / SET NULL / SET DEFAULT children, single-row WHERE matches
    only (pg assigns drawn values in heap order; a multi-row draw's
    row-to-value mapping is engine-specific, so the differential pins the
    single-row shape plus multi-row COUNTS via setval parity probes).
    Replay via pg_capture_txn.py (sequence state must persist in one
    session)."""
    for t in ("nc", "nn", "nd", "np"):
        s(f"DROP TABLE IF EXISTS {t}")
    s("DROP SEQUENCE IF EXISTS nseq")
    s("CREATE SEQUENCE nseq START 100")
    s("CREATE TABLE np (id int PRIMARY KEY, v int)")
    s("CREATE TABLE nc (id int PRIMARY KEY, "
      "pid int REFERENCES np(id) ON UPDATE CASCADE)")
    s("CREATE TABLE nn (id int PRIMARY KEY, "
      "pid int REFERENCES np(id) ON UPDATE SET NULL, t int)")
    s("CREATE TABLE nd (id int PRIMARY KEY, "
      "pid int DEFAULT 1 REFERENCES np(id) ON UPDATE SET DEFAULT)")

    for i in range(10):
        s(f"INSERT INTO np VALUES ({i}, {i})")
    for i in range(6):
        s(f"INSERT INTO nc VALUES ({i}, {(i * 3) % 10})")
    for i in range(5):
        s(f"INSERT INTO nn VALUES ({i}, {(i * 2) % 10}, {i})")
    for i in range(4):
        s(f"INSERT INTO nd VALUES ({i}, {(i * 7) % 10})")

    def dump():
        for t in ("np", "nc", "nn", "nd"):
            s(f"? {t}")
        s("! SELECT last_value, is_called FROM nseq")

    dump()
    known = list(range(10))
    for i in range(40):
        r = random.randrange(1000)
        op = random.randrange(8)
        if op in (0, 1, 2):
            # the headline: single-row nextval rewrite of a referenced PK
            # — CASCADE copies the drawn value into nc, SET NULL nulls nn,
            # SET DEFAULT re-points nd at 1 (23503 when 1 has moved away)
            tgt = random.choice(known)
            s(f"UPDATE np SET id = nextval('nseq') WHERE id = {tgt}")
            dump()
        elif op == 3:
            # setval: cross-engine sequence-state probe + repositioning
            s(f"! SELECT setval('nseq', {200 + i * 10})")
        elif op == 4:
            s(f"INSERT INTO np VALUES ({400 + i}, {r})")
            known.append(400 + i)
        elif op == 5:
            s(f"INSERT INTO nc VALUES ({100 + i}, {random.choice(known)})")
        elif op == 6:
            # RETURNING carries the drawn value (row-aligned projection)
            tgt = random.choice(known)
            s(f">UPDATE np SET id = nextval('nseq'), v = v + 1 "
              f"WHERE id = {tgt} RETURNING id, v")
            dump()
        else:
            s(f"UPDATE nn SET t = t + 1 WHERE id = {r % 5}")
        # track: after a nextval rewrite the old key is gone; refresh the
        # known set from a deterministic coda occasionally
        if op in (0, 1, 2, 6):
            known = [k for k in known]  # values unknown to the generator:
            # re-seed with a fresh insert so later updates still match
            s(f"INSERT INTO np VALUES ({500 + i}, 0) ON CONFLICT (id) DO NOTHING")
            known.append(500 + i)

    # deterministic codas
    s("INSERT INTO np VALUES (1, 1) ON CONFLICT (id) DO NOTHING")
    s("INSERT INTO nd VALUES (90, 1)")
    s("! SELECT setval('nseq', 900)")
    s("UPDATE np SET id = nextval('nseq') WHERE id = 1")  # default key 1 vanishes -> 23503
    s("? np"); s("? nd")
    s("INSERT INTO np VALUES (1, 1) ON CONFLICT (id) DO NOTHING")
    s("UPDATE np SET id = nextval('nseq') WHERE id = 1")  # now cascades clean
    dump()


# name -> (seed, generator, script)
SWEEPS = {
    "41c": (41041, sweep_41c, "script10.sql"),
    "41d": (77177, sweep_41d, "script11.sql"),
    "42": (424242, sweep_42, "script12.sql"),
    "43": (434343, sweep_43, "script13.sql"),
    "45": (454545, sweep_45, "script15.sql"),
}


def main(names):
    if not names or any(n not in SWEEPS for n in names):
        sys.exit(f"usage: gen_fk_sweep.py SWEEP [SWEEP ...]; sweeps: {', '.join(SWEEPS)}")
    for name in names:
        seed, gen, script = SWEEPS[name]
        random.seed(seed)
        lines = []
        gen(lines.append)
        with open(f"src/test/resources/dml/{script}", "w") as f:
            f.write("\n".join(lines) + "\n")
        print(f"{name}: {len(lines)} statements -> {script}")


if __name__ == "__main__":
    main(sys.argv[1:])
