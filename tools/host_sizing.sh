# Sourced by the tools/ scripts: size Spark to the host it runs on —
# every core, and a heap of half of MemTotal clamped to 2–8 GiB.
# SPARK_GRAFT_CPUS and SPARK_DRIVER_MEM, when already set, win.
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)}"
export SPARK_GRAFT_CPUS SPARK_DRIVER_MEM
