# Sourced by tools/bench.sh and tools/verify.sh: the local session's
# cores (SPARK_GRAFT_CPUS, default the host's nproc) and the JVM heap
# (SPARK_GRAFT_XMX, default half of MemTotal clamped to 2g..8g, the
# heap rule of build.sbt's forked JVMs). Either variable overrides its
# default; the values used go to stderr, since graft.Bench's counters
# (tasks, shuffle partitions) depend on the core count.
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
SPARK_GRAFT_XMX="${SPARK_GRAFT_XMX:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
echo "SPARK_GRAFT_CPUS=$SPARK_GRAFT_CPUS SPARK_GRAFT_XMX=$SPARK_GRAFT_XMX" >&2
