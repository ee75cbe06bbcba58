package org.sparkgraft.localfs;

import org.apache.hadoop.fs.LocalFileSystem;

/**
 * The {@code file:} FileSystem: Hadoop's checksummed {@link LocalFileSystem}
 * over {@link NioRawLocalFileSystem}. Everything but {@code setPermission},
 * including the {@code .crc} siblings, is Hadoop's own code.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }
}
