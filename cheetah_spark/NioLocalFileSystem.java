package cheetah_spark;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * The file:// filesystem with permissions and link status through java.nio.
 *
 * Without the native Hadoop library, RawLocalFileSystem forks a process for
 * two calls the streaming engine makes on every micro-batch: setPermission
 * forks chmod for every directory, file and .crc file it creates, and
 * getFileLinkStatus forks readlink for the source and target of every
 * FileContext rename (each checkpoint-log and _spark_metadata commit, and its
 * .crc). Raw answers both in-process; everything else (checksums, the rename
 * itself, listing, symlinks) is the stock code. NioLocalFileSystem serves
 * FileSystem callers (fs.file.impl: sink files), Fs serves FileContext callers
 * (fs.AbstractFileSystem.file.impl: checkpoint logs, _spark_metadata,
 * state-store files).
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    // OWNER_READ .. OTHERS_EXECUTE, i.e. mode bits 0400 .. 0001 in order
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if (permission.getStickyBit()) { // not expressible as PosixFilePermission
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((permission.toShort() & (0400 >> i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }

    /**
     * A path that is not a symlink has the status getFileStatus gives: the
     * stock code returns exactly that once readlink prints no target, and
     * throws the same FileNotFoundException for a missing path. Symlinks, and
     * paths java.nio cannot inspect, take the stock code.
     */
    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      boolean link;
      try {
        link = Files.isSymbolicLink(pathToFile(f).toPath());
      } catch (RuntimeException e) { // the stock code fails or answers its own way
        link = true;
      }
      return link ? super.getFileLinkStatus(f) : getFileStatus(f);
    }
  }

  /** LocalFs over Raw; the stock LocalFs/RawLocalFs constructors are package-private. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(uri, conf));
    }
  }

  /** RawLocalFs over Raw. */
  static class RawFs extends DelegateToFileSystem {
    RawFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(uri, new Raw(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
    }

    @Override
    @Deprecated
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true; // like RawLocalFs: the OS validates local names
    }
  }
}
