"""Session helpers: the core count a master string honours."""

from mr_mpi_blast_spark.session import master_cpus


def test_master_cpus():
    assert master_cpus("local[4]") == 4
    assert master_cpus(" local[3, 2] ") == 3       # local[N,F]: N cores
    assert master_cpus("local") == 1
    assert master_cpus("local[*]") is None
    assert master_cpus("spark://host:7077") is None


def test_master_cpus_of_the_test_session(spark):
    """get_spark builds local[$SPARK_GRAFT_CPUS]; the echo reads back
    the core count the running session schedules on."""
    sc = spark.sparkContext
    assert master_cpus(sc.master) == sc.defaultParallelism
