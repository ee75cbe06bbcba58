package org.sparkgraft.localfs;

import java.io.IOException;
import java.net.URI;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.FSDataInputStream;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.PathFilter;
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager;
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager;

/**
 * Streaming checkpoint manager that picks Spark's
 * {@link FileSystemBasedCheckpointFileManager} for {@code file:} checkpoints.
 *
 * <p>Spark's default, the FileContext-based manager, starts a
 * {@code readlink} process per rename when the Hadoop native library is
 * absent. On the local filesystem a FileSystem rename is as atomic as a
 * FileContext one. Any other scheme (S3A, HDFS, ...) gets exactly the
 * manager {@code CheckpointFileManager.create} returns with
 * {@code spark.sql.streaming.checkpointFileManagerClass} unset, so its
 * rename semantics stay Spark's.
 */
public class LocalCheckpointFileManager implements CheckpointFileManager {
  static final String CLASS_KEY = "spark.sql.streaming.checkpointFileManagerClass";

  private final CheckpointFileManager delegate;

  public LocalCheckpointFileManager(Path path, Configuration hadoopConf) {
    if ("file".equals(scheme(path, hadoopConf))) {
      delegate = new FileSystemBasedCheckpointFileManager(path, hadoopConf);
    } else {
      Configuration stock = new Configuration(hadoopConf);
      stock.unset(CLASS_KEY);
      delegate = CheckpointFileManager.create(path, stock);
    }
  }

  /** The scheme a path resolves to: its own, else the default filesystem's. */
  static String scheme(Path path, Configuration hadoopConf) {
    String own = path.toUri().getScheme();
    if (own != null) {
      return own;
    }
    URI defaultUri = FileSystem.getDefaultUri(hadoopConf);
    return defaultUri.getScheme();
  }

  public CheckpointFileManager delegate() {
    return delegate;
  }

  @Override
  public CancellableFSDataOutputStream createAtomic(Path path, boolean overwriteIfPossible) {
    return delegate.createAtomic(path, overwriteIfPossible);
  }

  @Override
  public FSDataInputStream open(Path path) {
    return delegate.open(path);
  }

  @Override
  public FileStatus[] list(Path path, PathFilter filter) {
    return delegate.list(path, filter);
  }

  @Override
  public void mkdirs(Path path) {
    delegate.mkdirs(path);
  }

  @Override
  public boolean exists(Path path) {
    return delegate.exists(path);
  }

  @Override
  public void delete(Path path) {
    delegate.delete(path);
  }

  @Override
  public boolean isLocal() {
    return delegate.isLocal();
  }

  @Override
  public Path createCheckpointDirectory() {
    return delegate.createCheckpointDirectory();
  }

  @Override
  public void close() {
    delegate.close();
  }
}
