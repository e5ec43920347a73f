# Round-loop entry points. The Scala library itself needs only sbt;
# the oracle targets use the LOCAL python duckdb (driver-side tooling,
# never a library dependency).

SF_VERIFY ?= /root/testdata/sf0.01
SF_BENCH  ?= /root/testdata/sf0.1
VOUT      ?= /tmp/vout
SOAK_X    ?= 10
SOAK_OUT  ?= target/soak

RUNS      ?= 10

.PHONY: compile test verify bench prewarm soak abbench

compile:
	sbt -batch compile

test:
	sbt -batch test

# correctness gate: prewarm-if-duckdb-changed (stamp-keyed no-op when
# warm), dump every query, compare against the DuckDB oracle
verify: prewarm
	sbt -batch "runMain graft.Verify $(SF_VERIFY) $(VOUT)"
	python3 tools/compare.py $(SF_VERIFY) $(VOUT)

# fork-free bench launch (see tools/bench.sh for why not sbt runMain)
bench:
	SPARK_GRAFT_SF_DIR=$(SF_BENCH) tools/bench.sh

# oracle-cache prewarm, keyed on the duckdb version stamp — warms the
# SAME dir verify compares (a default-dir warm would leave the real
# battery cold-starting inside compare.py after a duckdb bump)
prewarm:
	tools/prewarm_oracles.sh $(SF_VERIFY)

# scale sweep with the one timing harness: bench $(SF_BENCH), replicate
# it $(SOAK_X)x (graft.ScaleTestdata), bench the copy, then print each
# gate's growth exponent log(t_N/t_1)/log N from the two records
soak:
	mkdir -p $(SOAK_OUT)
	SPARK_GRAFT_SF_DIR=$(SF_BENCH) SPARK_GRAFT_BENCH_FULL=$(SOAK_OUT)/bench_x1.json \
	  SPARK_GRAFT_BENCH_STAT=$(SOAK_OUT)/stat_x1.json tools/bench.sh > /dev/null
	sbt -batch "runMain graft.ScaleTestdata $(SF_BENCH) $(SOAK_OUT)/x$(SOAK_X) $(SOAK_X)"
	SPARK_GRAFT_SF_DIR=$(SOAK_OUT)/x$(SOAK_X) SPARK_GRAFT_BENCH_FULL=$(SOAK_OUT)/bench_x$(SOAK_X).json \
	  SPARK_GRAFT_BENCH_STAT=$(SOAK_OUT)/stat_x$(SOAK_X).json tools/bench.sh > /dev/null
	python3 tools/growth.py $(SOAK_OUT)/bench_x1.json $(SOAK_OUT)/bench_x$(SOAK_X).json $(SOAK_X)

# paired benchmark runs, this checkout against PARENT=<ref> (checked
# out into a git worktree under .bench_build/abbench/): $(RUNS) pairs of
# every BENCHMARK.json workload, same seed on both sides, the side that
# runs first alternating from pair to pair. PARENT has no default: the
# right baseline depends on how many commits the change spans.
abbench:
	$(if $(PARENT),,$(error abbench: PARENT=<ref> required))
	python3 tools/abbench.py --parent $(PARENT) --runs $(RUNS)
